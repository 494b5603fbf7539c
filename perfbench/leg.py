"""The measured Spark process of one benchmark run.

run.py starts this file in a fresh process, samples its memory from
outside, and checks what it returns.  It writes one JSON document to
``--out`` with wall times (epoch seconds where the harness needs absolute
times), result counts, the rows needed for the correctness checks and the
spans it recorded.

Untraced (``--trace 0``): set up a local[4] session, run the workload's
operation (one pipeline run, or one pass over the query suite) and repeat
it until ``--seconds`` have passed since the first one started.  Traced
(``--trace 1``): the same session with Spark's event log on, the operation
once, then probes that call each layer's public functions separately.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
from contextlib import contextmanager

MASTER = "local[4]"


class Tracer:
    """Spans around the calls this process makes into the program's layers:
    name ``<layer>:<call>``, start, end, parent index and run id, kept in
    memory and written out with the result."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._open[-1] if self._open else None, "run": self.run_id,
        })
        self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._open.pop()
            self.spans[idx]["end"] = time.time()

    @staticmethod
    def wall(span: dict) -> float:
        return span["end"] - span["start"]


def build(tr: Tracer, rundir: str, trace: bool):
    from project_cascade_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(rundir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"),
    }
    if trace:
        evdir = os.path.join(rundir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            # Spark 4 rolls the log into a directory of parts by default;
            # one run's log is small, so keep it in a single file
            "spark.eventLog.rolling.enabled": "false",
        })
    with tr.span("session:build_session") as s:
        spark = build_session("perfbench", master=MASTER, extra_conf=conf)
    return spark, tr.wall(s)


# ------------------------------------------------------------------ batch

def pipeline_op(tr: Tracer, spark, path: str):
    """One fused dedup run over ``path`` and the one action that counts
    its files, clusters, edges and substring pairs."""
    from pyspark.sql import functions as F

    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.plans.pipeline import dedup_pipeline
    from project_cascade_spark.sources.tables import load_code_files

    with tr.span("sources.tables:load_code_files"):
        df = load_code_files(spark, path)
    with tr.span("plans.pipeline:dedup_pipeline"):
        res = dedup_pipeline(df, CODE_CONFIG, store=None, with_substring_pass=True)
    with tr.span("plans.pipeline:final_action"):
        row = (
            res.assignments.agg(
                F.count(F.lit(1)).alias("files"),
                F.countDistinct("cluster_id").alias("clusters"),
            )
            .crossJoin(res.edges.agg(F.count(F.lit(1)).alias("edges")))
            .crossJoin(res.substring_pairs.agg(F.count(F.lit(1)).alias("substring_pairs")))
            .first()
        )
    return res, row.asDict()


def assignments_rows(res) -> list[list]:
    rows = res.assignments.select("repo", "path", "commit", "file_id", "cluster_id").collect()
    return [[r["repo"], r["path"], r["commit"], r["file_id"], r["cluster_id"]] for r in rows]


def run_batch(tr: Tracer, spark, a: argparse.Namespace, out: dict) -> None:
    corpus = os.path.join(a.inputs, "corpus")
    ops = []
    t_first = time.time()
    while True:
        with tr.span("op:pipeline") as s:
            res, counts = pipeline_op(tr, spark, corpus)
        ops.append({"wall": tr.wall(s), "end": s["end"], "counts": counts})
        if a.trace or time.time() - t_first >= a.seconds:
            break
    out["ops"] = ops
    with tr.span("bench:collect_assignments"):
        out["assignments"] = assignments_rows(res)
    if a.trace:
        from project_cascade_spark.sources.tables import load_code_files

        files = load_code_files(spark, corpus)
        probe_layers(tr, out, files, files.select("file_id", "content"))
        durable_path(tr, spark, a, out)


# ---------------------------------------------------------------- queries

def run_queries(tr: Tracer, spark, a: argparse.Namespace, out: dict) -> None:
    from project_cascade_spark.queries import build_queries

    from inputs import QUERIES

    qs = build_queries()
    # the dataset is fixed; the seed picks the order the queries run in
    order = list(QUERIES)
    random.Random(a.seed).shuffle(order)
    passes = []
    t_first = time.time()
    near_dup = None
    while True:
        p = []
        with tr.span("op:query_pass") as s:
            for name in order:
                with tr.span(f"queries:{name}") as qspan:
                    rows = qs[name](spark, a.inputs).collect()
                p.append({"query": name, "wall": tr.wall(qspan), "end": qspan["end"],
                          "rows": len(rows)})
                if name == "doc_near_dup_clusters":
                    near_dup = [[r["doc_id"], r["cluster_id"]] for r in rows]
        passes.append({"wall": tr.wall(s), "end": s["end"], "queries": p})
        if a.trace or time.time() - t_first >= a.seconds:
            break
    out["passes"] = passes
    out["near_dup"] = near_dup
    if a.trace:
        from project_cascade_spark.sources.tables import load_testdata

        docs = load_testdata(spark, a.inputs, "documents")
        probe_layers(tr, out, docs, docs.selectExpr("doc_id AS file_id", "text AS content"))


# ----------------------------------------------------------- layer probes

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_layers(tr: Tracer, out: dict, table, text) -> None:
    """Time each layer's public functions on this workload's input: a no-op
    sink scan of ``table``, then, on its text (``file_id``, ``content``),
    the four per-row kernels over the deduplicated representatives into a
    no-op sink and each blocking/verify/cluster operator on materialised
    inputs."""
    from pyspark.sql import functions as F

    from project_cascade_spark.config import CODE_CONFIG as cfg
    from project_cascade_spark.functions.kernels import (
        apply_minhash,
        char_shingle_hashes_kernel,
    )
    from project_cascade_spark.functions.text import normalize_code
    from project_cascade_spark.operators.connected_components import connected_components
    from project_cascade_spark.operators.minhash_lsh import candidate_pairs
    from project_cascade_spark.operators.simhash import add_simhash, simhash_candidate_pairs
    from project_cascade_spark.operators.suffix import (
        MAX_OCC_PER_DOC,
        add_fingerprints_pos,
        fingerprint_anchor_pairs,
        verify_long_substring_anchored,
    )
    from project_cascade_spark.operators.verify import jaccard_verify

    m = out["layers"] = {}

    def timed(name: str, fn):
        with tr.span(name) as s:
            r = fn()
        return r, tr.wall(s)

    _, m["tables.scan_s"] = timed("sources.tables:scan", lambda: _noop(table))

    with tr.span("bench:prepare_reps"):
        reps = (
            text.withColumn("norm", normalize_code(F.col("content")))
            .groupBy(F.md5("norm").alias("_h"))
            .agg(F.min("file_id").alias("file_id"), F.first("norm").alias("norm"))
            .select("file_id", "norm")
            .repartition(4 * text.sparkSession.sparkContext.defaultParallelism, "file_id")
            .localCheckpoint(eager=True)
        )
        n_reps = reps.count()
    out["reps"] = n_reps

    shingled = reps.withColumn(
        "sh_hashes", char_shingle_hashes_kernel(F.col("norm"), cfg.char_shingle_k)
    )
    _, t = timed("functions.kernels:char_shingle_hashes", lambda: _noop(shingled))
    m["kernels.shingle_rows_per_s"] = n_reps / t
    with tr.span("bench:prepare_shingles"):
        prepared = (
            shingled.withColumn("n_tokens", F.size(F.split(F.col("norm"), " ")))
            .withColumn("n_shingles", F.size("sh_hashes"))
            .localCheckpoint(eager=True)
        )

    sig = prepared.withColumn("minhash", apply_minhash(F.col("sh_hashes"), cfg)).select(
        "file_id", "n_shingles", "minhash"
    )
    _, t = timed("functions.kernels:apply_minhash", lambda: _noop(sig))
    m["kernels.minhash_rows_per_s"] = n_reps / t

    toks = prepared.select("file_id", "n_tokens", F.split(F.col("norm"), " ").alias("tokens"))
    sim = add_simhash(toks, "tokens", cfg).select("file_id", "n_tokens", "simhash")
    _, t = timed("functions.kernels:add_simhash", lambda: _noop(sim))
    m["kernels.simhash_rows_per_s"] = n_reps / t

    fps = add_fingerprints_pos(
        prepared.select("file_id", "norm"), "norm", cfg, max_occ_per_doc=MAX_OCC_PER_DOC
    ).select("file_id", "fps_pos")
    _, t = timed("functions.kernels:add_fingerprints_pos", lambda: _noop(fps))
    m["kernels.winnow_rows_per_s"] = n_reps / t

    with tr.span("bench:prepare_signatures"):
        sig = sig.localCheckpoint(eager=True)
        short = sim.filter(F.col("n_tokens") <= cfg.short_doc_max_tokens).localCheckpoint(
            eager=True
        )
        fps = fps.localCheckpoint(eager=True)

    def materialise(df):
        df = df.localCheckpoint(eager=True)
        return df, df.count()

    (lsh, n_lsh), m["lsh.s"] = timed(
        "operators.minhash_lsh:candidate_pairs",
        lambda: materialise(candidate_pairs(
            sig, "file_id", "minhash", cfg, cap_buckets=True, size_col="n_shingles",
            hash_bands=True, persist_bands=True,
        )),
    )
    m["lsh.candidates"] = n_lsh
    (_, n_sim), m["simhash.s"] = timed(
        "operators.simhash:simhash_candidate_pairs",
        lambda: materialise(simhash_candidate_pairs(short, "file_id", "simhash", cfg)),
    )
    m["simhash.candidates"] = n_sim
    (edges, n_edges), m["verify.s"] = timed(
        "operators.verify:jaccard_verify",
        lambda: materialise(jaccard_verify(lsh, prepared, "file_id", "sh_hashes", cfg)),
    )
    m["verify.edges"] = n_edges
    m["verify.pass_ratio"] = n_edges / max(n_lsh, 1)
    (cc, _), m["cc.s"] = timed(
        "operators.connected_components:connected_components",
        lambda: materialise(connected_components(edges, "id_a", "id_b")),
    )
    m["cc.clusters"] = cc.select("cluster_id").distinct().count()
    (anchors, n_anchor), t_anchor = timed(
        "operators.suffix:fingerprint_anchor_pairs",
        lambda: materialise(fingerprint_anchor_pairs(
            fps, "file_id", "fps_pos", cfg, template_filter=True, max_occ_per_doc=0,
            persist_fps=True,
        )),
    )
    (_, n_pairs), t_verify = timed(
        "operators.suffix:verify_long_substring_anchored",
        lambda: materialise(verify_long_substring_anchored(
            anchors, prepared, "file_id", "norm", cfg
        )),
    )
    m["suffix.anchor_cands"] = n_anchor
    m["suffix.pairs"] = n_pairs
    m["suffix.pass_ratio"] = n_pairs / max(n_anchor, 1)
    m["suffix.s"] = t_anchor + t_verify


# ----------------------------------------------------------- durable path

def durable_path(tr: Tracer, spark, a: argparse.Namespace, out: dict) -> None:
    """The StageStore path on a base/batch split of the batch corpus: a
    durable base run with the substring pass, a full re-run over the
    finished workdir (resume) and one ``append_batch`` epoch.  (``compact``
    is left out: it would push the traced run near the 180 s limit.)"""
    from pyspark.sql import functions as F

    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.plans.append import append_batch, write_config_marker
    from project_cascade_spark.plans.pipeline import dedup_pipeline
    from project_cascade_spark.sources.sinks import StageStore
    from project_cascade_spark.sources.tables import load_code_files

    class TimedStageStore(StageStore):
        """Records the wall of every stage run and of every durable write."""

        def __init__(self, *args, **kw):
            super().__init__(*args, **kw)
            self.stage_s: dict[str, float] = {}
            self.write_s = 0.0

        def run(self, stage, fn):
            t0 = time.time()
            try:
                return super().run(stage, fn)
            finally:
                self.stage_s[stage] = self.stage_s.get(stage, 0.0) + time.time() - t0

        def write(self, stage, df, token=None):
            t0 = time.time()
            try:
                return super().write(stage, df, token)
            finally:
                self.write_s += time.time() - t0

    wd = os.path.join(a.rundir, "workdir")
    base_path = os.path.join(a.inputs, "base")
    batch_path = os.path.join(a.inputs, "batch0")
    d = out["durable"] = {}

    def base_run(tag: str) -> TimedStageStore:
        with tr.span(f"plans.pipeline:dedup_pipeline_{tag}") as s:
            store = TimedStageStore(spark, wd, fingerprint=f"perfbench:{a.seed}")
            write_config_marker(wd, CODE_CONFIG)
            res = dedup_pipeline(
                load_code_files(spark, base_path), CODE_CONFIG, store=store,
                with_substring_pass=True,
            )
            d[f"{tag}_files"] = res.assignments.count()
        d[f"{tag}_s"] = tr.wall(s)
        return store

    store = base_run("base")
    d["stage_s"] = store.stage_s
    d["write_s"] = store.write_s
    d["bytes_written"] = _dir_bytes(wd)
    d["input_bytes"] = _dir_bytes(base_path)
    store = base_run("resume")
    d["resume_computed"] = list(store.computed)

    with tr.span("plans.append:append_batch") as s:
        res = append_batch(load_code_files(spark, batch_path), CODE_CONFIG, wd)
        ep = res.assignments.agg(
            F.count(F.lit(1)).alias("files"),
            F.countDistinct("cluster_id").alias("clusters"),
        ).first()
    d["epoch_s"] = tr.wall(s)
    d["epoch_files"] = ep["files"]
    d["epoch_assignments"] = [
        [r["file_id"], r["cluster_id"]]
        for r in res.assignments.select("file_id", "cluster_id").collect()
    ]
    state = StageStore(spark, wd).state().filter(F.col("stage").startswith("e1_"))
    d["epoch_stage_s"] = state.agg(F.sum("wall_s")).first()[0] or 0.0
    d["epoch_bytes"] = sum(
        _dir_bytes(os.path.join(wd, n)) for n in os.listdir(wd) if n.startswith("e1_")
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["batch", "queries"])
    p.add_argument("--inputs", required=True)
    p.add_argument("--rundir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    tr = Tracer(run_id=f"{a.workload}-{a.seed}-{os.getpid()}")
    out: dict = {"workload": a.workload, "trace": a.trace}
    spark, out["setup_s"] = build(tr, a.rundir, bool(a.trace))
    try:
        if a.workload == "batch":
            run_batch(tr, spark, a, out)
        else:
            run_queries(tr, spark, a, out)
    finally:
        with tr.span("session:stop"):
            spark.stop()
    out["spans"] = tr.spans
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()

