import pytest

from project_cascade_spark.operators.connected_components import connected_components


def _cc(spark, edges, driver_threshold=0):
    # driver_threshold=0 forces the distributed large-star/small-star path
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df, driver_threshold=driver_threshold).collect()
    return {r["id"]: r["cluster_id"] for r in rows}


def test_single_edge(spark):
    assert _cc(spark, [(1, 2)]) == {1: 1, 2: 1}


def test_chain_and_separate_component(spark):
    # chain 1-2-3-4 plus pair 10-11
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_star_and_cycle(spark):
    got = _cc(spark, [(5, 1), (5, 2), (5, 3), (7, 8), (8, 9), (9, 7)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 7: 7, 8: 7, 9: 7}


def test_long_path_converges(spark):
    n = 40  # path graph: worst case for label propagation; log rounds here
    edges = [(i, i + 1) for i in range(n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_driver_union_find_matches_distributed(spark):
    import random

    rng = random.Random(3)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    dist = _cc(spark, edges, driver_threshold=0)
    local = _cc(spark, edges, driver_threshold=10**6)
    assert dist == local


def test_max_iter_without_convergence_raises(spark):
    edges = [(i, i + 1) for i in range(63)]  # 64-node chain
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match=r"max_iter=2 .*\d+ edges"):
        connected_components(df, driver_threshold=0, max_iter=2)
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 64
