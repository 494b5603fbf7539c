"""Approximate nearest-neighbor search over an embedding column.

Two paths, as the training-data-pipeline brief requires:
- brute_force_topk: exact cosine top-k — the correctness baseline, DuckDB
  oracle-able (list_cosine_similarity).  Cross join + window top-k; cost
  O(n*m), acceptable for a query set much smaller than the corpus.
- srp_lsh_topk / ivf_topk: sign-random-projection (SRP) LSH buckets and
  IVF cells — the scale paths.  Hyperplanes and centroids are
  deterministic, so results are reproducible; candidates are scored
  exactly inside their bucket / probed cell.

The two scale paths score candidates one of two ways, with identical
output rows:
- use_kernel=False (the DuckDB oracle's twin): an ids-only bucket/cell
  equi-join builds the distinct (q_id, n_id) candidate pairs, both vectors
  join onto every pair and a Catalyst fold scores it — the shape of the
  oracle's pair-join SQL;
- use_kernel=True (grouped top-k): no pair table at all.  The capped
  bucket/cell rows carry their vectors into ONE Arrow kernel call per
  group (functions/kernels.ann_group_topk_arrow), which scores the group as
  a seqfold matmul and returns each query's local top-k; one q_id exchange
  then drops pairs repeated across groups and ranks.  Exact, because a
  member of a query's global top-k (cosine desc, n_id asc) over the union
  of its groups is in the local top-k of every group that holds it.  It
  beats per-pair scoring (fold or Arrow) because each vector crosses into
  the kernel once per group, not once per candidate pair, and the dedup
  shuffle carries <= k rows per (query, group) instead of every pair.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CascadeConfig


def _cosine(va: str, vb: str):
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, z: a + z
    )
    n = lambda c: F.sqrt(F.aggregate(F.col(c), F.lit(0.0), lambda a, z: a + z * z))  # noqa: E731
    return dot / (n(va) * n(vb))


def _vec_norm(vec_col: str):
    """Sequential-fold L2 norm — the same expression _cosine folds inline;
    hoisting it to the corpus scan computes it once per VECTOR instead of
    once per PAIR (the dot is the only per-pair fold left: ~3x less scoring
    work, bitwise-identical cosines)."""
    return F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, z: a + z * z))


def _score_joined(
    joined: DataFrame, score_with_arrow: bool, dim: int | None = None
) -> DataFrame:
    """(q_id, n_id, q_vec, n_vec, _qn, _nn) → (q_id, n_id, cosine), one
    score per materialized pair (brute_force_topk and the use_kernel=False
    ANN paths; the use_kernel=True ANN paths never build pairs — they score
    whole buckets/cells with kernels.ann_group_topk_arrow, see the module
    docstring).

    Default is the Catalyst dot fold over pre-hoisted norms — measured
    FASTER than Arrow for per-pair scoring, because each pair must move two
    full vectors JVM→Arrow and that conversion costs more than Spark 4's
    fold evaluates them (~10 ns/element transfer vs ~6 ns/element fold;
    bench.ann_kernel_bench carries the receipts).  score_with_arrow=True
    switches to the zero-copy kernel (bit-identical; wins only when Python
    must touch the pairs anyway)."""
    if score_with_arrow:
        from ..functions.kernels import score_pairs_arrow

        return score_pairs_arrow(joined, dim)
    dot = F.aggregate(
        F.zip_with("q_vec", "n_vec", lambda x, y: x * y),
        F.lit(0.0), lambda a, z: a + z,
    )
    return joined.select(
        "q_id", "n_id", (dot / (F.col("_qn") * F.col("_nn"))).alias("cosine")
    )


def _scoring_sides(corpus: DataFrame, id_col: str, vec_col: str):
    """(qv, nv) projections with hoisted norms for _score_joined."""
    qv = corpus.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        _vec_norm(vec_col).alias("_qn"),
    )
    nv = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        _vec_norm(vec_col).alias("_nn"),
    )
    return qv, nv


def _dedup_pairs_q_partitioned(pairs: DataFrame, per_core: int = 4) -> DataFrame:
    """Distinct (q_id, n_id) rows, hash-partitioned by q_id in ONE exchange.

    Fuses what were three exchanges into one (guide §2.4):
    repartition(n, q_id) satisfies the dedup aggregate's clustering
    requirement (q_id ⊆ {q_id, n_id}) AND the per-query top-k window's, so
    neither adds an exchange.  The explicit partition count is the
    parallelism floor AQE byte-coalescing would otherwise erase (ids-only
    pairs are tiny bytes — measured before the floor existed: 561k dim-768
    scorings coalesced onto 4 tasks, a 23 s straggler on a 37 s query).
    Two callers: the pair paths dedup ids-only candidates here and score
    them afterwards (the vector joins — broadcast at bench scale, n_id-join
    first at cluster scale — keep the q_id layout); the grouped-kernel
    paths dedup already-scored (q_id, n_id, cosine) local top-k rows, whose
    repeats carry the same cosine bits.  Per-query row counts are bounded
    by the bucket/cell caps, so keying by q_id cannot concentrate a
    degenerate key."""
    par = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(max(per_core * par, 16), "q_id").dropDuplicates(
        ["q_id", "n_id"]
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, n_id, cosine) → per-query rank <= k by (cosine desc, n_id
    asc), cosine rounded to 6 places — the output contract of every ANN
    operator here and of their DuckDB oracles."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _grouped_topk(
    rows: DataFrame, corpus: DataFrame, id_col: str, vec_col: str,
    group_cols: list[str], k: int, dim: int, probe_col: str | None = None,
) -> DataFrame:
    """The use_kernel=True scorer: ids-only group rows (_id, group_cols...)
    pick up their vectors, each group runs one local top-k kernel call,
    and one q_id exchange dedups and ranks (exactness: module docstring)."""
    from ..functions.kernels import ann_group_topk_arrow

    vecs = corpus.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_vec")
    )
    local = ann_group_topk_arrow(
        rows.join(vecs, "_id"), group_cols, k, dim, probe_col
    )
    return _rank_topk(_dedup_pairs_q_partitioned(local), k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    use_kernel: bool = False,
) -> DataFrame:
    """For each query vector, exact top-k corpus neighbors by cosine.

    queries is broadcast (the small side by construction); the window
    partitions by query id so the top-k never leaves the executor that
    scored the pair.  Norms are hoisted to the two scans (once per vector,
    not once per pair); use_kernel routes scoring through the zero-copy
    Arrow kernel instead of the expression fold (same bits either way).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
            _vec_norm(vec_col).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        _vec_norm(vec_col).alias("_nn"),
    )
    scored = _score_joined(
        q.crossJoin(c).filter(F.col("q_id") != F.col("n_id")), use_kernel
    )
    return _rank_topk(scored, k)


def add_srp_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    out_col: str = "srp_bucket",
) -> DataFrame:
    """Sign-random-projection bucket id (long) per vector.

    Planes come from a seeded RandomState → reproducible.  The projection
    is expressed with zip_with/aggregate over broadcast literal arrays —
    stays in codegen, no UDF, no shuffle.
    """
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[j]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, z: a + z,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return df.withColumn(out_col, bucket)


def train_ivf_centroids(
    sample: np.ndarray, n_cells: int, n_iters: int = 8
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer for IVF.

    sample: (n, dim) float64 vectors in a DETERMINISTIC order (callers pass
    the n_sample smallest ids, sorted) — the whole procedure is then a pure
    function of the data, so the DuckDB oracle generator reproduces the
    exact same centroids by running this same function on the same sample
    (oracle.emb_ann_ivf_sql embeds them as literals, the same move as the
    SRP hyperplanes).

    Init is deterministic farthest-point (greedy k-means++ without the
    randomness): start from sample[0], repeatedly add the sample vector
    whose best cosine to the already-chosen centroids is LOWEST — spreads
    the init across the data's modes even when the low-id sample rows all
    come from one cluster (where a first-k init would collapse).  Each
    iteration then assigns every sample vector to its max-cosine centroid
    (argmax takes the FIRST max, i.e. ties break toward the smaller cell
    id — the query-time rule) and re-estimates each centroid as the
    unit-normalized member mean; an empty cell keeps its previous centroid.
    Everything is plain numpy on the same array on both sides, so results
    are bit-identical regardless of numpy's internal summation order.
    """
    S = np.asarray(sample, dtype=np.float64)
    n_cells = min(n_cells, S.shape[0])
    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    chosen = [0]
    best_cos = (Sn @ Sn[0]).copy()
    for _ in range(n_cells - 1):
        nxt = int(np.argmin(best_cos))
        chosen.append(nxt)
        np.maximum(best_cos, Sn @ Sn[nxt], out=best_cos)
    C = S[chosen].copy()
    for _ in range(n_iters):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = np.argmax(Sn @ Cn.T, axis=1)
        for j in range(n_cells):
            members = Sn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    C[j] = m / nrm
    return C


def ivf_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    max_cell_size: int = 100_000,
    cap_salts: int = 16,
    cap_salt_expr=None,
    centroids: np.ndarray | None = None,
    use_kernel: bool = False,
    scoring_corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: the cell-partitioned counterpart to
    srp_lsh_topk.  Every vector is assigned to its nearest coarse centroid
    (its CELL); each query probes its n_probe nearest cells and is scored
    exactly against only the vectors in those cells — corpus-scan cost drops
    by ~n_cells/n_probe versus brute force.

    Centroids: pass a trained (n_cells, dim) array — train_ivf_centroids
    gives the deterministic spherical-k-means quantizer, still oracle-able
    because the oracle generator retrains the identical centroids and
    embeds them as literals.  centroids=None falls back to the id-prefix
    rule (vectors with id < n_cells) — the untrained baseline kept for the
    recall-comparison tests.  Either way centroids live on the driver
    (n_cells is small by construction); on the default expression path they
    unroll as literal arrays so assignment and probing are pure codegen
    over the corpus scan — no UDF, no shuffle.  use_kernel=True swaps the
    per-row interpreted cosine folds (n_cells of them per row — the CPU
    bottleneck at dim 768+) for one Arrow seqfold-matmul kernel per batch,
    bit-identical (functions/kernels.ivf_assign_arrow), AND scores with the
    grouped top-k kernel instead of the pair join (module docstring).

    Scale shape:
    - cells are capped at max_cell_size via the SALTED cap window
      (minhash_lsh.cap_bucket_rows) so a degenerate centroid that attracts
      a huge cluster can neither go quadratic nor funnel the cap sort
      through one task (north_rule skew salting);
    - use_kernel=False: the cell equi-join carries IDS ONLY ((n_id, cell)
      vs exploded (q_id, probe_cell)); vectors re-join once per side after
      the candidate set is deduped — no shuffle moves a vector twice;
    - use_kernel=True: a kernel group is (cell, probe salt), the salt
      pmod(xxhash64(q_id), cap_salts) splitting a cell's probes while its
      members are replicated to every salt — a hot cell spreads over
      cap_salts tasks (the split AQE's skew join gave the pair join), and a
      group holds <= max_cell_size members plus one salt's share of probes;
    - ties (equal cosine to two centroids) break toward the smaller cell
      id, matching the oracle's ORDER BY cosine DESC, cid ASC.

    scoring_corpus, if given, must hold exactly the same (id, vec) rows as
    corpus — only the layout may differ.  It exists so a caller that
    balanced corpus for the per-row assignment scan (a repartition) can
    hand the scorer the unshuffled source: the vector join is broadcast
    (bench scale) or re-shuffled by its key (cluster scale) either way, so
    the balanced layout would be one full-vector exchange of pure overhead.
    Nothing checks the contract: different rows silently drop candidates
    or score them with the wrong vectors.
    """
    if centroids is not None:
        cents = [(int(i), [float(x) for x in centroids[i]])
                 for i in range(len(centroids))]
    else:
        cents = [
            (int(row["cid"]), [float(x) for x in row["cvec"]])
            for row in corpus.filter(F.col(id_col) < n_cells)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
            .collect()
        ]
        cents.sort(key=lambda t: t[0])
    if use_kernel:
        from ..functions.kernels import ivf_assign_arrow

        assigned = ivf_assign_arrow(
            corpus, id_col, vec_col,
            np.array([c for c, _ in cents], dtype=np.int64),
            np.array([v for _, v in cents], dtype=np.float64),
            n_probe,
        )
    else:
        # the query norm is hoisted to ONE column: inside each per-centroid
        # struct it would be re-folded n_cells times (higher-order functions
        # run interpreted, no CSE across struct fields) — same expression,
        # same bits, 1/3 of the assignment cost at n_cells=16
        qn = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, z: a + z * z))
        with_qn = corpus.withColumn("_qn", qn)
        # array<struct<cos,negcid>> sorted desc is (cosine desc, cid asc):
        # struct comparison is lexicographic; -cid descending == cid ascending
        scored_cells = F.array(*[
            F.struct(
                _cosine_to_lit(vec_col, cvec, norm_col="_qn").alias("cos"),
                F.lit(-cid).alias("negcid"),
            )
            for cid, cvec in cents
        ])
        ranked = F.reverse(F.array_sort(scored_cells))
        assigned = with_qn.select(
            F.col(id_col).alias("_id"),
            (-F.element_at(ranked, 1)["negcid"]).alias("cell"),
            F.transform(
                F.slice(ranked, 1, n_probe), lambda s: -s["negcid"]
            ).alias("_probes"),
        )
    # the assignment scan (n_cells cosine folds per row) feeds BOTH the
    # cells and probes branches — materialize eagerly so the concurrently
    # launched branch stages cannot each compute it on cache first-touch
    assigned = assigned.localCheckpoint(eager=True)
    cells = assigned.select("_id", "cell")
    if max_cell_size:
        from .minhash_lsh import cap_bucket_rows

        cells = cap_bucket_rows(
            cells, ["cell"], "_id", max_cell_size,
            n_salts=cap_salts, salt=cap_salt_expr,
        )
    scoring = scoring_corpus if scoring_corpus is not None else corpus
    if use_kernel:
        salts = max(1, cap_salts)
        every_salt = F.sequence(F.lit(0).cast("long"), F.lit(salts - 1).cast("long"))
        probe_rows = assigned.select(
            "_id", F.explode("_probes").alias("cell"),
            F.pmod(F.xxhash64("_id"), F.lit(salts)).alias("_salt"),
            F.lit(True).alias("_probe"),
        )
        member_rows = cells.select(
            "_id", "cell", F.explode(every_salt).alias("_salt"),
            F.lit(False).alias("_probe"),
        )
        return _grouped_topk(
            probe_rows.unionByName(member_rows), scoring, id_col, vec_col,
            ["cell", "_salt"], k, dim, probe_col="_probe",
        )
    probes = assigned.select(
        F.col("_id").alias("q_id"), F.explode("_probes").alias("cell")
    )
    cand = _dedup_pairs_q_partitioned(
        probes.join(cells.select(F.col("_id").alias("n_id"), "cell"), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
    )
    qv, nv = _scoring_sides(scoring, id_col, vec_col)
    # n_id join FIRST, q_id join LAST: if the vector joins ever shuffle
    # (non-broadcast corpus at cluster scale), the scored frame leaves the
    # last join partitioned by q_id — the window's requirement
    return _rank_topk(
        _score_joined(cand.join(nv, "n_id").join(qv, "q_id"), False), k
    )


def _cosine_to_lit(vec_col: str, lit_vec: list, norm_col: str | None = None):
    """Cosine between a vector column and a literal python vector, with the
    same fold order as _cosine / oracle._cosine_sql (sequential sum).
    norm_col names a pre-computed column holding this row's vector norm
    (identical expression, hoisted by the caller to avoid re-folding it)."""
    plane = F.array(*[F.lit(float(x)) for x in lit_vec])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), plane, lambda x, y: x * y),
        F.lit(0.0), lambda a, z: a + z,
    )
    ncol = F.col(norm_col) if norm_col else F.sqrt(F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, z: a + z * z))
    # sequential-fold sum (NOT np.sum's pairwise summation) so the literal
    # norm is bit-identical to the oracle's list_sum over the same centroid
    sq = 0.0
    for x in lit_vec:
        sq += float(x) * float(x)
    import math

    return dot / (ncol * F.lit(math.sqrt(sq)))


def srp_lsh_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket_size: int = 2000,
    cap_salts: int = 16,
    cap_salt_expr=None,
    use_kernel: bool = False,
    scoring_corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: L independent SRP hash tables, candidate
    union across tables, exact cosine within bucket (classic multi-table
    LSH).  For neighbors at angle θ, per-table collision = (1-θ/π)^p, so
    recall = 1-(1-(1-θ/π)^p)^L — p trades candidate volume against
    per-table recall, L buys recall back at linear cost.

    Scale shape (the 100 TB concerns):
    - buckets are CAPPED at max_bucket_size per (table, bucket) via the
      SALTED cap window (minhash_lsh.cap_bucket_rows, north_rule skew
      salting) — a dense embedding cluster would otherwise go quadratic in
      one hot bucket AND the cap itself would sort that bucket in one task;
      rows capped out of a bucket in one table still reach it through the
      other L-1 tables;  cap_salt_expr overrides the salt (oracle-parity
      path passes an md5-derived salt DuckDB can reproduce);
    - use_kernel=False: the bucket self-join and the cross-table
      dropDuplicates carry IDS ONLY — full vectors are re-joined once per
      side afterwards, so no shuffle ever moves a vector more than once;
    - use_kernel=True: one Arrow scan buckets all L tables, and each capped
      (table, bucket) — at most max_bucket_size rows — is one grouped top-k
      kernel call (module docstring): a vector is shuffled once per table,
      and only <= k scored rows per (query, bucket) reach the q_id dedup.

    scoring_corpus: same contract as ivf_topk's — exactly the (id, vec)
    rows of corpus, without the caller-side balancing repartition.
    """
    # bucket table carries (id, table, bucket) — no vectors
    if use_kernel:
        # ONE corpus scan computes all L tables' buckets (the expression
        # path scans per table and unions); dots are seqfold bit-identical
        from ..functions.kernels import srp_buckets_arrow

        planes = np.stack([
            np.random.RandomState(seed + 1009 * t).randn(n_planes, dim)
            for t in range(n_tables)
        ])
        b = srp_buckets_arrow(corpus, id_col, vec_col, planes)
    else:
        tables = []
        for t in range(n_tables):
            bt = (
                add_srp_buckets(
                    corpus, vec_col, dim, n_planes, seed + 1009 * t,
                    out_col="srp_bucket",
                )
                .withColumn("srp_table", F.lit(t))
                .select(F.col(id_col).alias("_id"), "srp_table", "srp_bucket")
            )
            tables.append(bt)
        b = tables[0]
        for bt in tables[1:]:
            b = b.unionByName(bt)
    if max_bucket_size:
        from .minhash_lsh import cap_bucket_rows

        b = cap_bucket_rows(
            b, ["srp_table", "srp_bucket"], "_id", max_bucket_size,
            n_salts=cap_salts, salt=cap_salt_expr,
        )
    scoring = scoring_corpus if scoring_corpus is not None else corpus
    if use_kernel:
        return _grouped_topk(
            b, scoring, id_col, vec_col, ["srp_table", "srp_bucket"], k, dim
        )
    # EAGER materialization: the bucket self-join references this subtree
    # from both sides; a lazy persist would let the two concurrently
    # launched join-side stages each first-touch the cache and run the
    # L-table bucketing scan + salted cap window once EACH
    b = b.localCheckpoint(eager=True)
    left = b.select(F.col("_id").alias("q_id"), "srp_table", "srp_bucket")
    right = b.select(F.col("_id").alias("n_id"), "srp_table", "srp_bucket")
    cand = _dedup_pairs_q_partitioned(
        left.join(right, ["srp_table", "srp_bucket"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
    )
    # vectors join in exactly once per side, post-dedup; n_id first / q_id
    # LAST so a shuffled vector join leaves the q_id layout for the window
    qv, nv = _scoring_sides(scoring, id_col, vec_col)
    return _rank_topk(
        _score_joined(cand.join(nv, "n_id").join(qv, "q_id"), False), k
    )
