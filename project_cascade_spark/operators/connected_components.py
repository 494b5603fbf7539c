"""Connected components via alternating large-star / small-star joins.

The clustering core — the Spark-native replacement for csvdedupe's
cluster step (reference: Regional_Run_Files/data_matching.py:200-231,
runtime evidence /root/reference/info.log:21-29).  Algorithm: the
two-phase alternating algorithm of Kiveris et al., "Connected Components
in MapReduce and Beyond" (SoCC'14) — mandated by north_rule.

  large-star(E): for each node u, m = min(N(u) ∪ {u});
                 emit (v, m) for every neighbor v > u.
  small-star(E): orient edges (u, v) with v < u; for each u,
                 m = min(N(u)); emit (v, m) for v ∈ N(u)\\{m} plus (u, m).

Alternate until the edge set is stable; components end as stars rooted at
their minimum id.  Each iteration is two groupBy-min + join rounds — pure
shuffles, O(log n) iterations, robust to high-degree hubs (that's the point
of the large-star step).  localCheckpoint per iteration truncates lineage,
and the convergence test is an aggregate (count + xor of pair hashes), not
a collect of the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        bidir.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    neighbors = (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select(F.col("u"), F.col("m").alias("v"))
    return neighbors.union(centers).filter(F.col("u") != F.col("v")).distinct()


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    # hash bounded to 2^32 before summing: ANSI mode (Spark 4 default)
    # would overflow-summing raw 64-bit hashes
    row = e.agg(
        F.count(F.lit(1)).alias("c"),
        F.coalesce(F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 32))), F.lit(0)).alias("h"),
    ).first()
    return int(row["c"]), int(row["h"])


def _local_union_find(rows: list, spark) -> DataFrame:
    """Exact union-find on collected edges — same output contract as the
    distributed path (cluster_id = component min)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    out = [(x, find(x)) for x in parent]
    return spark.createDataFrame(out, "id long, cluster_id long")


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in `edges`; cluster_id is
    the minimum node id of the component.  Nodes absent from `edges`
    (singletons) are the caller's business (see assign.attach_clusters).

    Adaptive: edge sets under `driver_threshold` are solved with an exact
    in-driver union-find (each distributed iteration costs several shuffle
    rounds of fixed latency — pure overhead when the edges fit in one task);
    larger sets run the alternating large-star/small-star joins.  Pass
    driver_threshold=0 to force the distributed path (tests do).  The
    distributed loop raises RuntimeError when `max_iter` iterations pass
    without two equal edge checksums, rather than return an unconverged
    edge set.
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if driver_threshold:
        # limit-probe: collect at most threshold+1 rows in ONE action — no
        # full count() pass, and when the set is small the probe rows ARE
        # the edges (no second collect).  Only an over-threshold set pays
        # for recomputing e (rare, and then the distributed path dominates
        # anyway).  Arrow transfer (toPandas) instead of collect(): two
        # int64 columns arrive as ~16 B/row numpy buffers, not ~500 B/row
        # Python Row objects — at the 500k threshold that is ~8 MB vs
        # hundreds of MB of driver heap.
        probe = e.limit(driver_threshold + 1).toPandas()
        if len(probe) <= driver_threshold:
            return _local_union_find(
                list(zip(probe["u"].tolist(), probe["v"].tolist())),
                edges.sparkSession,
            )
    prev = _edge_checksum(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"iterations ({prev[0]} edges after the last one)"
        )
    # converged: every edge is (member, root) with root = component min
    members = e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("id"), F.col("v").alias("cluster_id"))
    return members.union(roots).distinct()
