"""The expression forms and the Arrow-kernel forms must agree bit-for-bit —
this is what lets the DuckDB oracle (which mirrors the expression form)
validate the kernel-powered pipeline."""

import pyspark.sql.functions as F

from project_cascade_spark.config import CascadeConfig
from project_cascade_spark.functions.hashing import (
    minhash_expr,
    shingle_hashes,
    simhash_expr,
    token_hashes,
)
from project_cascade_spark.functions.kernels import apply_minhash, apply_simhash

CFG = CascadeConfig(num_perm=16, lsh_bands=4, lsh_rows=4)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "a b",
    "xyzzy",
    "the quick brown fox jumps over the lazy dog again and again and again",
]


def _df(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "s string")
    toks = F.split("s", " ")
    return df.withColumn("toks", toks).withColumn(
        "hashes", shingle_hashes(F.col("toks"))
    ).withColumn("tok_hashes", token_hashes(F.col("toks")))


def test_minhash_kernel_matches_expr(spark):
    df = _df(spark)
    out = df.select(
        minhash_expr(F.col("hashes"), CFG).alias("expr_sig"),
        apply_minhash(F.col("hashes"), CFG).alias("kern_sig"),
    ).collect()
    for row in out:
        assert list(row["expr_sig"]) == list(row["kern_sig"])


def test_simhash_kernel_matches_expr(spark):
    df = _df(spark)
    out = df.select(
        simhash_expr(F.col("tok_hashes"), CFG).alias("expr_sim"),
        apply_simhash(F.col("tok_hashes"), CFG).alias("kern_sim"),
    ).collect()
    for row in out:
        assert row["expr_sim"] == row["kern_sim"]


def test_simhash_kernel_null_empty_parity(spark):
    """Empty token array → all bits set (every vote sum is 0 >= 0); null
    array → null.  Kernel must match the expression form on both (the
    'bit-identical twin' contract includes the degenerate inputs)."""
    df = spark.createDataFrame(
        [(1, []), (2, None), (3, [12345, 67890])],
        "id long, tok_hashes array<long>",
    )
    out = {
        r["id"]: (r["expr_sim"], r["kern_sim"])
        for r in df.select(
            "id",
            simhash_expr(F.col("tok_hashes"), CFG).alias("expr_sim"),
            apply_simhash(F.col("tok_hashes"), CFG).alias("kern_sim"),
        ).collect()
    }
    assert out[1][0] == out[1][1] == (1 << CFG.simhash_bits) - 1
    assert out[2][0] is None and out[2][1] is None
    assert out[3][0] == out[3][1]


# --------------------- ANN kernels (round-4 scale path) ---------------------

EMB_SF = "/root/testdata/sf0.001"


def _emb(spark, n=150):
    df = spark.read.parquet(f"{EMB_SF}/embeddings.parquet").limit(n)
    return df.withColumn("embedding", F.col("embedding").cast("array<double>"))


def test_pair_cosine_kernel_matches_expr_bitexact(spark):
    """The seqfold cumsum kernel must reproduce F.aggregate's left-fold
    cosine to the LAST BIT — not approximately (== on raw doubles)."""
    from project_cascade_spark.functions.kernels import score_pairs_arrow
    from project_cascade_spark.operators.similarity import _cosine

    emb = _emb(spark, 60)
    a = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    b = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    pairs = a.crossJoin(b).filter(F.col("q_id") < F.col("n_id"))
    expr = {
        (r["q_id"], r["n_id"]): r["c"]
        for r in pairs.select(
            "q_id", "n_id", _cosine("q_vec", "n_vec").alias("c")
        ).collect()
    }
    kern = {
        (r["q_id"], r["n_id"]): r["cosine"]
        for r in score_pairs_arrow(pairs, 64).collect()
    }
    assert len(expr) > 1000 and len(kern) == len(expr)
    for key, v in expr.items():
        assert kern[key] == v


def test_srp_buckets_kernel_matches_expr(spark):
    """Per-table bucket ids from the one-scan kernel == the per-table
    expression scans (sign of a bit-identical dot)."""
    import numpy as np

    from project_cascade_spark.functions.kernels import srp_buckets_arrow
    from project_cascade_spark.operators.similarity import add_srp_buckets

    emb = _emb(spark)
    n_planes, n_tables, dim, seed = 8, 4, 64, 42
    planes = np.stack([
        np.random.RandomState(seed + 1009 * t).randn(n_planes, dim)
        for t in range(n_tables)
    ])
    kern = {
        (r["_id"], r["srp_table"]): r["srp_bucket"]
        for r in srp_buckets_arrow(emb, "vec_id", "embedding", planes).collect()
    }
    for t in range(n_tables):
        rows = add_srp_buckets(
            emb, "embedding", dim, n_planes, seed + 1009 * t
        ).select("vec_id", "srp_bucket").collect()
        for r in rows:
            assert kern[(r["vec_id"], t)] == r["srp_bucket"]


def _emb_with_dups(spark, n=150, n_vecs=10, copies=4):
    """_emb plus `copies` exact copies of each of the first n_vecs vectors
    under new ids: every query sees equal cosines to a vector and its
    copies, and a copy's own top-k is all ties, so the order must break
    them on n_id."""
    emb = _emb(spark, n)
    src = emb.filter(F.col("vec_id") < n_vecs)
    for c in range(1, copies + 1):
        emb = emb.unionByName(src.withColumn("vec_id", F.col("vec_id") + 100_000 * c))
    return emb


def _assert_paths_equal(topk, emb, **kw):
    """The grouped-kernel path must equal the pair-join expression path
    row for row."""
    expr = sorted(map(tuple, topk(emb, "vec_id", "embedding", use_kernel=False, **kw).collect()))
    kern = sorted(map(tuple, topk(emb, "vec_id", "embedding", use_kernel=True, **kw).collect()))
    assert expr and kern == expr, kw


def test_srp_lsh_topk_kernel_path_parity(spark):
    """Grouped top-k kernel == pair-join fold: plain geometry, a binding
    bucket cap, cosine ties on duplicated vectors, and k larger than most
    buckets (a query takes every member its buckets hold)."""
    from project_cascade_spark.operators.similarity import srp_lsh_topk

    emb = _emb(spark)
    dups = _emb_with_dups(spark)
    base = dict(dim=64, k=3, n_planes=4, n_tables=4, seed=7)
    _assert_paths_equal(srp_lsh_topk, emb, **base)
    # 2 planes: ~45 rows per bucket, capped at 16 (4 salts x 4)
    _assert_paths_equal(
        srp_lsh_topk, dups, **{**base, "n_planes": 2, "max_bucket_size": 16, "cap_salts": 4}
    )
    _assert_paths_equal(srp_lsh_topk, dups, **{**base, "k": 5})
    # 6 planes: 64 buckets of ~3 rows, k=20 exceeds them
    _assert_paths_equal(srp_lsh_topk, dups, **{**base, "n_planes": 6, "n_tables": 2, "k": 20})


def test_ivf_topk_kernel_path_parity(spark):
    """Both quantizers (id-prefix and trained k-means), both scoring paths:
    identical output rows — also under a binding cell cap, cosine ties on
    duplicated vectors, k larger than the probed cells, and the hot-cell
    geometry of test_ivf_cells_capped (2 cells, 1 probe), where every
    cell's probes split across the salt groups."""
    import numpy as np

    from project_cascade_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    emb = _emb(spark)
    dups = _emb_with_dups(spark)
    sample = np.stack([
        np.asarray(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 64).orderBy("vec_id").collect()
    ])
    trained = train_ivf_centroids(sample, n_cells=8)
    for cents in (None, trained):
        kw = dict(dim=64, k=3, n_cells=8, n_probe=2, centroids=cents)
        _assert_paths_equal(ivf_topk, emb, **kw)
    kw = dict(dim=64, k=3, n_cells=8, n_probe=2, centroids=trained)
    _assert_paths_equal(ivf_topk, dups, **{**kw, "max_cell_size": 8, "cap_salts": 4})
    _assert_paths_equal(ivf_topk, dups, **kw)
    _assert_paths_equal(ivf_topk, dups, **{**kw, "n_cells": 32, "n_probe": 1, "k": 40})
    _assert_paths_equal(
        ivf_topk, _emb(spark, 100), dim=64, k=50, n_cells=2, n_probe=1,
        max_cell_size=10,
    )
    _assert_paths_equal(ivf_topk, _emb(spark, 100), dim=64, k=50, n_cells=2, n_probe=1)


def test_ann_zero_vector_raises_on_both_paths(spark):
    """A zero vector has no cosine: the pair fold raises DIVIDE_BY_ZERO
    under ANSI, and the kernels must raise too rather than emit NaN."""
    import pytest

    from project_cascade_spark.operators.similarity import ivf_topk, srp_lsh_topk

    emb = _emb(spark, 60)
    zero = spark.createDataFrame(
        [(99_999, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    emb = emb.select("vec_id", "embedding").unionByName(zero)
    for use_kernel in (False, True):
        # 2 planes: the zero vector's all-ones bucket holds ~15 others
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            srp_lsh_topk(
                emb, "vec_id", "embedding", dim=64, k=3, n_planes=2,
                n_tables=2, use_kernel=use_kernel,
            ).collect()
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            ivf_topk(
                emb, "vec_id", "embedding", dim=64, k=3, n_cells=4,
                n_probe=2, use_kernel=use_kernel,
            ).collect()


def test_minhash_similar_texts_share_bands(spark):
    """Sanity: near-identical token streams collide on most signature slots."""
    df = _df(spark)
    sigs = [list(r["sig"]) for r in df.select(apply_minhash(F.col("hashes"), CFG).alias("sig")).collect()]
    same = sum(1 for a, b in zip(sigs[0], sigs[4]) if a == b)
    assert same >= CFG.num_perm // 2  # texts 0 and 4 share most shingles
    diff = sum(1 for a, b in zip(sigs[0], sigs[3]) if a == b)
    assert diff <= 2  # unrelated texts share ~0 slots
