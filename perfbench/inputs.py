"""Benchmark inputs, generated into ``perfbench/.cache`` by the harness
before the measured child process starts.  The program under test receives
only parquet paths.

- ``batch``: one ``generate_code_files`` corpus per (size, seed), written as
  500-row parquet parts (the layout bench.py uses), plus the planted truth.
- ``queries``: one fixed dataset per checkout, at the row counts of the
  ``sf0.1`` test data of TESTDATA.md (the tables bench.py's headline queries
  read there), in its schema, with planted near-duplicate document groups.
  The DuckDB oracle row count of each query is computed once, beside the
  tables.  The run's seed shuffles the query order instead.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

PART_ROWS = 500

# The nine queries bench.py times as its headline, plus the linkage query.
QUERIES = [
    "doc_near_dup_clusters",
    "doc_minhash_pairs",
    "doc_simhash_pairs",
    "emb_topk",
    "emb_ann_ivf",
    "emb_ann_lsh",
    "match_stats",
    "cluster_sizes_window",
    "events_windowed_agg",
    "link_pairs",
]

_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector index probe shard cache flush join plan node task stage frame "
    "cell bucket token record offset"
).split()


def _write_parts(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    n = max(len(pdf) // PART_ROWS, 1)
    for i in range(n):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i::n], preserve_index=False),
            os.path.join(path, f"part-{i:04d}.parquet"),
        )


def _cached(name: str, build) -> str:
    """Directory ``.cache/<name>``, built by ``build(tmp_dir)`` on first use
    and renamed into place, so an interrupted build is never served."""
    final = os.path.join(CACHE, name)
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def batch_inputs(n_files: int, seed: int) -> str:
    """Cache dir holding ``corpus/`` (parquet parts), ``truth.parquet`` and
    the durable path's split of the same corpus into ``base/`` and one
    ``batch0/`` of a tenth of the files (bench.py's round-robin split, so
    planted groups straddle the boundary)."""
    from project_cascade_spark.datagen import generate_code_files

    def build(d: str) -> None:
        pdf, truth = generate_code_files(n_files, seed=seed)
        _write_parts(pdf, os.path.join(d, "corpus"))
        truth.to_parquet(os.path.join(d, "truth.parquet"), index=False)
        pos = np.arange(len(pdf)) % 10
        _write_parts(pdf[pos != 0], os.path.join(d, "base"))
        _write_parts(pdf[pos == 0], os.path.join(d, "batch0"))

    return _cached(f"batch-n{n_files}-s{seed}", build)


def _documents(rng: np.random.RandomState, n_docs: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Random word documents; a tenth of the base documents seed planted
    near-duplicate groups of 2-3 that differ by one substituted word in
    60-120 words (word 3-shingle Jaccard >= 0.9, above the 0.8 threshold of
    the doc queries).  Truth: (doc_id, group_id), singletons in their own group."""
    texts: list[str] = []
    groups: list[int] = []
    gid = 0
    while len(texts) < n_docs:
        gid += 1
        planted = rng.rand() < 0.1
        n_words = int(rng.randint(60, 121)) if planted else int(rng.randint(8, 121))
        base = list(rng.choice(_WORDS, size=n_words))
        texts.append(" ".join(base))
        groups.append(gid)
        if planted:
            for _ in range(int(rng.randint(1, 3))):
                if len(texts) >= n_docs:
                    break
                var = list(base)
                var[int(rng.randint(0, n_words))] = "edit%d" % rng.randint(0, 1000)
                texts.append(" ".join(var))
                groups.append(gid)
    n = len(texts)
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], size=n),
        "source": ["src%d" % i for i in rng.randint(0, 20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    truth = pd.DataFrame({"doc_id": docs["doc_id"], "group_id": groups})
    return docs, truth


def _embeddings(rng: np.random.RandomState, n: int, dim: int = 64) -> pd.DataFrame:
    centers = rng.randn(8, dim)
    labels = rng.randint(0, 8, size=n)
    vecs = (centers[labels] + 1.5 * rng.randn(n, dim)) * 0.12
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    })


def _timestamps(
    rng: np.random.RandomState, start: str, span_s: int, n: int, days: bool = False
) -> np.ndarray:
    secs = rng.randint(0, span_s, size=n).astype("int64")
    if days:
        secs -= secs % 86400
    us = secs * 1_000_000
    if not days:
        us += rng.randint(0, 1_000_000, size=n)
    return np.datetime64(start, "us") + us.astype("timedelta64[us]")


def _tpch(rng: np.random.RandomState, n_orders: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    n_cust = max(n_orders // 10, 1)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, size=n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], size=n_orders),
        "o_totalprice": np.round(rng.uniform(900, 450000, size=n_orders), 2),
        "o_orderdate": _timestamps(rng, "1992-01-01", 7 * 365 * 86400, n_orders, days=True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_orders
        ),
    })
    n_li = 4 * n_orders
    lineitem = pd.DataFrame({
        "l_orderkey": rng.randint(0, n_orders, size=n_li).astype(np.int64),
        "l_partkey": rng.randint(0, 20000, size=n_li).astype(np.int64),
        "l_suppkey": rng.randint(0, 1000, size=n_li).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, size=n_li).astype(np.int32),
        "l_quantity": rng.randint(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, size=n_li), 2),
        "l_discount": rng.randint(0, 11, size=n_li) / 100.0,
        "l_tax": rng.randint(0, 9, size=n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
        "l_linestatus": rng.choice(["O", "F"], size=n_li),
        "l_shipdate": _timestamps(rng, "1992-01-01", 7 * 365 * 86400, n_li, days=True),
    })
    return orders, lineitem


def _events(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(_timestamps(rng, "2024-01-01", 30 * 86400, n)),
        "user_id": rng.randint(0, 1500, size=n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "error", "signup"], size=n),
        "value": np.round(rng.uniform(0, 500, size=n), 2),
        "props": ['{"k": %d}' % k for k in rng.randint(0, 100, size=n)],
    })


def oracle_counts(data_dir: str) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over ``data_dir``."""
    import duckdb

    # the IVF oracle trains its centroids from the gate directory's sample
    os.environ["SPARK_GRAFT_GATE_SF_DIR"] = data_dir
    from project_cascade_spark.queries import build_oracles

    sqls = build_oracles()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute("SET enable_progress_bar = false")
        for t in ("documents", "embeddings", "lineitem", "orders", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        return {
            q: int(con.execute(f"SELECT count(*) FROM ({sqls[q]})").fetchone()[0])
            for q in QUERIES
        }
    finally:
        con.close()


# Row counts of the sf0.1 tables in TESTDATA.md; the dataset itself is fixed.
QUERY_DATA_SEED = 42
SF01_DOCS = 5000
SF01_VECTORS = 2000
SF01_ORDERS = 150_000
SF01_EVENTS = 100_000


def queries_inputs() -> str:
    """Cache dir holding the five tables, ``doc_truth.parquet`` and
    ``oracle.json`` (query -> oracle row count).  Building it takes about a
    minute of DuckDB on 4 cores, once per checkout."""

    def build(d: str) -> None:
        rng = np.random.RandomState(QUERY_DATA_SEED)
        docs, truth = _documents(rng, SF01_DOCS)
        orders, lineitem = _tpch(rng, SF01_ORDERS)
        tables = {
            "documents": docs,
            "embeddings": _embeddings(rng, SF01_VECTORS),
            "orders": orders,
            "lineitem": lineitem,
            "events": _events(rng, SF01_EVENTS),
        }
        # one file per table, like the sf* test data
        for name, pdf in tables.items():
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(d, f"{name}.parquet"),
            )
        truth.to_parquet(os.path.join(d, "doc_truth.parquet"), index=False)
        with open(os.path.join(d, "oracle.json"), "w") as f:
            json.dump(oracle_counts(d), f)

    return _cached(f"queries-sf0.1-s{QUERY_DATA_SEED}", build)
