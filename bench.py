"""Benchmark harness (driver contract + scaling evidence).

Prints the result JSON line INCREMENTALLY: a complete, parseable line is
(re)emitted after every finished leg, each a superset of the previous one,
so the receipt that exists at any kill point is whatever had finished —
round 4's lesson, where a single end-of-run print met the driver's timeout
and produced an empty official artifact (BENCH_r04.json rc=124).  A
SIGTERM/SIGINT handler re-emits the current snapshot on the way out.

Result shape:
  {"metric": "...", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "pipeline": {...walls + scaling efficiencies per N→4N pair...},
   "append": {...per-epoch fold walls + compaction...},
   "ann_kernel_dim768": {...} | "skipped...", "scale_10x": {...} | "skipped..."}

Leg order (and why):
1. headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] —
   FIRST, on the freshest box: these are the cross-round-comparable walls,
   and the burst is short enough (<1 min of 32-thread work) that a single
   cool-down restores the box for the scaling legs.
2. the N→4N scaling pairs on the synthetic code_files corpus — the sandbox
   proxy for the BASELINE.json two-cluster-size rule (throughput at both
   levels + efficiency = T_4N/(4*T_N)).  1→4 runs at 30k files (the pair
   inside this host's linear region; historically repeats to <=8%, so one
   rep per level — still symmetric); 2→8 runs at 100k files × 2 reps:
   round-3 measurement showed 30k is below the 8-way strong-scaling knee
   (0.62 at 30k vs 0.77 at 100k against a 0.52-0.95 host ceiling band), so
   the permanent receipt is now the corpus size that measures the job, not
   the knee (round-4 verdict #2).
3. the incremental-append chain: base → 3 epoch folds → compact, vs a
   from-scratch control on the union — per-epoch walls must stay flat
   (∝ batch) while the corpus grows (round-4 verdict #6).
4. budget-gated long legs (dim-768 ANN comparison, 300k-file 10× leg):
   run only when elapsed + estimate fits CASCADE_BENCH_BUDGET_S, otherwise
   recorded as skipped with a pointer to BENCH/BASELINE.md, where the
   builder's full runs (budget=0 = unlimited) keep the receipts current.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Per-pair spec: a:b@files x reps, in PRIORITY order — pairs run
# sequentially, and the append chain runs right after the FIRST pair, so
# on a slow/throttled box the receipts the round is graded on land before
# any harness timeout (the 1->4 pair has repeated to <=8% at stable walls
# for three rounds; it is the least at-risk receipt and goes last).
# 30k files: large enough that fixed per-stage overhead (~10s) is small
# against the parallel fraction at <=4 cores.  100k: the smallest size
# round 3 measured to be past the 8-way strong-scaling knee on this host.
PAIRS_SPEC = os.environ.get(
    "CASCADE_BENCH_PAIRS", "2:8@100000x2,1:4@30000x1"
)
# Rested single-thread probe wall (see throttle_probe): 1.7-1.8s on this
# box measured after 15+ min of idle (round-5 calibration; the same box
# read 1.8-1.9 right after a 2h bench burst — today's recovery band is
# narrow, but round 3 measured 1.18 vs 1.42 on a probe of similar shape,
# so the spread varies by day).  If the start-of-run probe exceeds 1.15x
# this, the box is hot from whatever ran before — rest and reprobe (up to
# 3 times) before timing anything, and record every probe value in the
# receipt so cross-round wall comparisons carry their own calibration.
# 0 disables the wait.
PROBE_RESTED_S = float(os.environ.get("CASCADE_BENCH_PROBE_RESTED_S", "1.7"))
# The sandbox CPU throttles under sustained multi-core load and recovers
# when idle (measured: a fixed single-thread numpy probe runs 1.18s rested
# vs 1.42s right after a 32-core burst).  Multi-core legs get a cool-down
# first; 1-2 core legs neither need nor benefit from one (they follow a
# low-intensity leg and barely heat the box).
COOLDOWN_BIG_S = int(os.environ.get("CASCADE_BENCH_COOLDOWN_BIG_S", "60"))
# Small-leg cooldown is not negligible: a 1-2 core leg that starts 15s
# after an 8-core burst inherits its heat, inflating the SLOW side of the
# pair and therefore flattering the efficiency ratio (measured round 5:
# n2@100k read 892s straight after an n8 leg vs 746s on the calmer second
# round).  45s keeps the estimator honest at ~2 min total profile cost.
COOLDOWN_SMALL_S = int(os.environ.get("CASCADE_BENCH_COOLDOWN_SMALL_S", "45"))
# Soft wall-clock budget (seconds) for the whole bench: optional legs are
# skipped when elapsed + estimate would cross it.  The driver's timeout is
# ~1h; 3350 leaves headroom for emission + teardown.  0 = unlimited (the
# builder's full-receipt runs).
BUDGET_S = int(os.environ.get("CASCADE_BENCH_BUDGET_S", "3350"))
# 10x scale-up leg (300k files): evidences the skew guards and hash-only
# working set where they matter.  Disable with CASCADE_BENCH_SF1_FILES=0.
SF1_FILES = int(os.environ.get("CASCADE_BENCH_SF1_FILES", "300000"))
SF1_N = int(os.environ.get("CASCADE_BENCH_SF1_N", "8"))
# Rested-rerun rule (round-4 verdict #3): if the 10x wall regresses >15%
# vs the recorded prior-round rested wall, cool down and run it again,
# recording BOTH walls — a single throttle-suspect rep is not a receipt.
PREV_10X_WALL_S = float(os.environ.get("CASCADE_BENCH_PREV_10X_WALL_S", "772"))
# incremental-append chain: base + N_EPOCHS batch folds + compact vs a
# from-scratch run on the union.  Disable with CASCADE_BENCH_APPEND_BASE=0.
APPEND_BASE_FILES = int(os.environ.get("CASCADE_BENCH_APPEND_BASE", "12000"))
APPEND_BATCH_FILES = int(os.environ.get("CASCADE_BENCH_APPEND_BATCH", "1200"))
APPEND_EPOCHS = int(os.environ.get("CASCADE_BENCH_APPEND_EPOCHS", "3"))
APPEND_CORES = int(os.environ.get("CASCADE_BENCH_APPEND_CORES", "8"))

HEADLINE = [
    "doc_near_dup_clusters",
    "doc_minhash_pairs",
    "doc_simhash_pairs",
    "emb_topk",
    "emb_ann_ivf",
    "emb_ann_lsh",
    "match_stats",
    "cluster_sizes_window",
    "events_windowed_agg",
]


def parse_pairs(spec: str):
    """[(a, b, files, reps)].  Legacy form 'a:b' (no @) takes 30000x2."""
    out = []
    for part in spec.split(","):
        ab, _, rest = part.partition("@")
        a, b = (int(x) for x in ab.split(":"))
        if rest:
            files_s, _, reps_s = rest.partition("x")
            out.append((a, b, int(files_s), int(reps_s or "2")))
        else:
            out.append((a, b, 30000, 2))
    return out


PAIRS = parse_pairs(PAIRS_SPEC)

# ---------------------------------------------------------------- emission

T_START = time.time()
RESULT: dict = {
    "metric": "end_to_end_dedup_bench",
    "value": 0.0,
    "unit": "sec",
    "queries": {},
    "sf": SF_DIR.rstrip("/").split("sf")[-1],
    "pipeline": None,
    "append": None,
    "ann_kernel_dim768": None,
    "scale_10x": None,
    "legs_completed": [],
}


def emit() -> None:
    """Print the current cumulative snapshot as ONE JSON line.  Called
    after every finished leg; each emission supersedes the previous, so
    the last parseable line in the captured output is always the most
    complete receipt that existed."""
    RESULT["elapsed_s"] = round(time.time() - T_START, 1)
    sys.stdout.write(json.dumps(RESULT) + "\n")
    sys.stdout.flush()


def _die(signum, frame):  # noqa: ARG001
    RESULT["killed_by_signal"] = signum
    emit()
    sys.exit(128 + signum)


signal.signal(signal.SIGTERM, _die)
signal.signal(signal.SIGINT, _die)


def elapsed() -> float:
    return time.time() - T_START


def throttle_probe() -> float:
    """Fixed single-thread numpy work unit (~1.45s rested on this box,
    1.8-1.9s right after a long multi-core burst).  The sandbox CPU
    throttles under sustained load and recovers when idle; absolute walls
    measured on a hot box are not comparable across rounds, so every run
    carries its own calibration."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
              "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    import numpy as np

    a = np.random.RandomState(0).randn(600, 600)
    b = a.copy()
    t0 = time.time()
    for _ in range(60):
        b = b @ a
        b *= 1e-3
    return time.time() - t0


def probe_and_rest(tag: str) -> None:
    """Record a probe under RESULT['throttle_probes'][tag]; at run start
    (tag 'start'), rest + reprobe until the box reads rested or the
    attempts run out, so the cross-round-comparable headline walls are
    measured on a calibrated-cold box."""
    probes = RESULT.setdefault("throttle_probes", {})
    vals = [round(throttle_probe(), 3)]
    tries = 3 if tag == "start" else 0
    while (PROBE_RESTED_S and vals[-1] > 1.15 * PROBE_RESTED_S
           and tries > 0):
        time.sleep(COOLDOWN_BIG_S)
        tries -= 1
        vals.append(round(throttle_probe(), 3))
    probes[tag] = vals


def budget_allows(estimate_s: float) -> bool:
    return BUDGET_S <= 0 or elapsed() + estimate_s <= BUDGET_S


# ---------------------------------------------------------------- synth

def _synth_parquet(path: str, n_files: int) -> None:
    """Materialize the synthetic code_files table once (datagen excluded
    from the timed pipeline)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    from project_cascade_spark.datagen import generate_code_files

    pdf, _ = generate_code_files(n_files, seed=42)
    os.makedirs(path, exist_ok=True)
    # many SMALL files → the content scan + hash stage parallelizes and
    # load-balances at every leg (a single-row-group parquet is one task
    # no matter how many cores; 500-row shards give the n-core legs many
    # waves of short tasks).  A real 100 TB corpus is likewise many-part —
    # this mirrors production layout, not a bench trick.
    n_shards = max(len(pdf) // 500, 1)
    for i in range(n_shards):
        shard = pdf.iloc[i::n_shards]
        pq.write_table(
            pa.Table.from_pandas(shard, preserve_index=False),
            os.path.join(path, f"part-{i:04d}.parquet"),
        )
    open(os.path.join(path, "_SUCCESS"), "w").close()


def corpus_path(n_files: int) -> str:
    p = f"/tmp/cascade_bench_input_{n_files}_s500"
    _synth_parquet(p, n_files)
    return p


# ---------------------------------------------------------------- pipeline legs

def run_pipeline(master_n: int, input_path: str) -> tuple[int, float]:
    """(files, wall seconds) for one full pipeline run at local[N]."""
    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.plans.pipeline import dedup_pipeline
    from project_cascade_spark.session import build_session
    from project_cascade_spark.sources.tables import load_code_files

    # shuffle partitions scale with cores (as they would across cluster
    # sizes): 4x cores keeps join/agg stages load-balanced — with exactly
    # one partition per core a single straggler extends the stage wall
    spark = build_session(
        f"cascade-bench-n{master_n}", master=f"local[{master_n}]",
        shuffle_partitions=max(4 * master_n, 16),
    )
    df = load_code_files(spark, input_path)
    t0 = time.time()
    res = dedup_pipeline(df, CODE_CONFIG, store=None, with_substring_pass=True)
    # ONE action for both outputs: the two sub-trees share nothing, so a
    # crossJoin of their 1-row aggregates computes them in a single job —
    # their tasks interleave across cores instead of paying two flat
    # job tails back to back.
    from pyspark.sql import functions as F

    row = (
        res.assignments.agg(F.count(F.lit(1)).alias("n_files"))
        .crossJoin(res.substring_pairs.agg(F.count(F.lit(1)).alias("n_sub")))
        .first()
    )
    n = row["n_files"]
    wall = time.time() - t0
    spark.stop()
    return n, wall


def run_pipeline_subprocess(master_n: int, input_path: str) -> tuple[int, float]:
    """run_pipeline in a fresh process — a second SparkSession in the same
    JVM measures ~20% slow (leftover GC pressure + degraded code cache),
    which would corrupt the scaling comparison."""
    import subprocess

    code = (
        "import sys; sys.path.insert(0, %r); from bench import run_pipeline; "
        "n, w = run_pipeline(%d, %r); print('RESULT', n, w)"
        % (os.path.dirname(os.path.abspath(__file__)), master_n, input_path)
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT"):
            _, n, w = line.split()
            return int(n), float(w)
    raise RuntimeError(f"no RESULT line in subprocess output: {out.stdout[-500:]}")


def stage_skew_report(spark) -> dict:
    """Per-stage task-skew evidence from the Spark REST API of the LIVE
    session (UI must be enabled): peak per-stage shuffle write, max
    single-task input, and the worst max/median task-bytes ratio across
    stages that moved real data (median task >= 1 MiB, >= 8 tasks —
    smaller stages measure scheduling noise, not skew)."""
    import urllib.request

    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(p):
        with urllib.request.urlopen(base + p, timeout=60) as r:
            return json.load(r)

    peak_shuffle_write = 0
    max_task_bytes = 0
    worst = {"ratio": 0.0, "stage": None}
    n_checked = 0
    for st in get("/stages?status=complete"):
        peak_shuffle_write = max(peak_shuffle_write, int(st.get("shuffleWriteBytes", 0) or 0))
        if int(st.get("numCompleteTasks", 0) or 0) < 8:
            continue
        try:
            q = get(f"/stages/{st['stageId']}/{st['attemptId']}"
                    "/taskSummary?quantiles=0.0,0.5,1.0")
        except Exception:
            continue
        inp = (q.get("inputMetrics") or {}).get("bytesRead", [0, 0, 0])
        srd = (q.get("shuffleReadMetrics") or {}).get("readBytes", [0, 0, 0])
        med = float(inp[1]) + float(srd[1])
        mx = float(inp[2]) + float(srd[2])
        max_task_bytes = max(max_task_bytes, int(mx))
        if med >= 1 << 20:
            n_checked += 1
            ratio = mx / med
            if ratio > worst["ratio"]:
                worst = {
                    "ratio": round(ratio, 2),
                    "stage": (st.get("name") or "")[:80],
                    "median_task_bytes": int(med),
                    "max_task_bytes": int(mx),
                }
    return {
        "peak_stage_shuffle_write_bytes": peak_shuffle_write,
        "max_task_input_bytes": max_task_bytes,
        "stages_checked_for_skew": n_checked,
        "worst_stage_skew": worst,
    }


def run_pipeline_scale(master_n: int, input_path: str) -> tuple[int, float, dict]:
    """One 10x-scale pipeline run with the UI enabled so the REST API can
    report per-stage task skew (files, wall, skew report)."""
    from pyspark.sql import functions as F

    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.plans.pipeline import dedup_pipeline
    from project_cascade_spark.session import build_session
    from project_cascade_spark.sources.tables import load_code_files

    spark = build_session(
        f"cascade-sf1-n{master_n}", master=f"local[{master_n}]",
        shuffle_partitions=max(4 * master_n, 16),
        extra_conf={"spark.ui.enabled": "true"},
    )
    df = load_code_files(spark, input_path)
    t0 = time.time()
    res = dedup_pipeline(df, CODE_CONFIG, store=None, with_substring_pass=True)
    row = (
        res.assignments.agg(F.count(F.lit(1)).alias("n_files"))
        .crossJoin(res.substring_pairs.agg(F.count(F.lit(1)).alias("n_sub")))
        .first()
    )
    wall = time.time() - t0
    report = stage_skew_report(spark)
    spark.stop()
    return row["n_files"], wall, report


def run_pipeline_scale_subprocess(master_n: int, input_path: str) -> tuple[int, float, dict]:
    import subprocess

    code = (
        "import sys, json; sys.path.insert(0, %r); from bench import run_pipeline_scale; "
        "n, w, rep = run_pipeline_scale(%d, %r); "
        "print('RESULT_SF1', json.dumps({'n': n, 'wall': w, 'report': rep}))"
        % (os.path.dirname(os.path.abspath(__file__)), master_n, input_path)
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT_SF1 "):
            rec = json.loads(line[len("RESULT_SF1 "):])
            return rec["n"], rec["wall"], rec["report"]
    raise RuntimeError(f"no RESULT_SF1 line: {out.stdout[-500:]}")


# ---------------------------------------------------------------- append leg

def _synth_append_parquet(n_base: int, n_batch: int, n_epochs: int) -> dict:
    """One deterministic corpus split into base + n_epochs batches (batch
    rows interleaved so planted dup groups straddle every boundary), plus
    the full union for the from-scratch control.  Returns the paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from project_cascade_spark.datagen import generate_code_files

    tag = f"{n_base}_{n_batch}x{n_epochs}"
    paths = {
        "base": f"/tmp/cascade_bench_append_base_{tag}",
        "union": f"/tmp/cascade_bench_append_union_{tag}",
        **{f"batch{i}": f"/tmp/cascade_bench_append_b{i}_{tag}"
           for i in range(n_epochs)},
    }
    if all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths.values()):
        return paths
    import numpy as np

    total = n_base + n_epochs * n_batch
    pdf, _ = generate_code_files(total, seed=42)
    # round-robin slice: rows i with i % total_slices < n_epochs go to
    # batch (i % total_slices), the rest to base — every batch interleaves
    # with the base across the whole corpus
    slices = max(total // n_batch, n_epochs + 1)
    pos = np.arange(len(pdf)) % slices
    parts = {"base": pdf[pos >= n_epochs], "union": pdf}
    for i in range(n_epochs):
        parts[f"batch{i}"] = pdf[pos == i]
    for name, part in parts.items():
        path = paths[name]
        os.makedirs(path, exist_ok=True)
        n_shards = max(len(part) // 500, 1)
        for i in range(n_shards):
            pq.write_table(
                pa.Table.from_pandas(part.iloc[i::n_shards], preserve_index=False),
                os.path.join(path, f"part-{i:04d}.parquet"),
            )
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return paths


def run_append_bench() -> None:
    """Incremental-append receipt, multi-epoch (round-4 verdict #6): fold
    APPEND_EPOCHS batches into a base run one epoch at a time, then
    compact, against a from-scratch control on the full union.  The 100 TB
    claim under test: per-epoch fold cost stays flat (∝ batch) while the
    corpus grows.  Walls are the jobs' own reports (JVM startup excluded);
    the control runs FIRST, on the freshest box, so the reported speedup
    is conservative.  Updates RESULT["append"] and emits after every
    sub-job so a timeout never erases finished epochs."""
    import shutil
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    paths = _synth_append_parquet(APPEND_BASE_FILES, APPEND_BATCH_FILES, APPEND_EPOCHS)
    wd = f"/tmp/cascade_bench_append_wd_{APPEND_BASE_FILES}_{APPEND_BATCH_FILES}x{APPEND_EPOCHS}"
    wd_full, wd_c = f"{wd}_fullctl", f"{wd}_compacted"
    for d in (wd, wd_full, wd_c):
        shutil.rmtree(d, ignore_errors=True)

    def job(*args) -> dict:
        out = subprocess.run(
            [sys.executable, "-m", "project_cascade_spark.jobs.dedup_job",
             "--master", f"local[{APPEND_CORES}]", "--report", *args],
            capture_output=True, text=True, check=True, cwd=here,
        )
        return json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        )

    leg: dict = {
        "base_files": APPEND_BASE_FILES, "batch_files": APPEND_BATCH_FILES,
        "epochs": APPEND_EPOCHS, "cores": APPEND_CORES,
        "epoch_walls_s": [], "epoch_stage_walls_s": [],
    }
    RESULT["append"] = leg

    # control = the operational alternative: re-run from scratch on the
    # union WITH a workdir (a production rerun keeps its checkpoints too —
    # comparing durable append against a non-durable rerun would charge
    # append for stage writes the alternative also pays).
    full = job("--input", paths["union"], "--workdir", wd_full,
               "--no-substring-pass")
    leg["full_union_wall_s"] = full["wall_s"]
    leg["clusters_full"] = full["clusters"]
    emit()

    time.sleep(COOLDOWN_SMALL_S)
    base = job("--input", paths["base"], "--workdir", wd, "--no-substring-pass")
    leg["base_wall_s"] = base["wall_s"]
    emit()

    from project_cascade_spark.sources.sinks import stage_records

    for i in range(APPEND_EPOCHS):
        time.sleep(COOLDOWN_SMALL_S)
        inc = job("--input", paths[f"batch{i}"], "--workdir", wd, "--append")
        leg["epoch_walls_s"].append(inc["wall_s"])
        # stage work of the epoch alone from the store's stage records —
        # per-action job latency (which amortizes away on long production
        # runs) excluded
        stage_wall = sum(
            r["wall_s"] for r in stage_records(wd)
            if r["stage"].startswith(f"e{i + 1}")
        )
        leg["epoch_stage_walls_s"].append(round(stage_wall, 2))
        leg["clusters_final"] = inc["clusters"]
        leg["files_final"] = inc["files"]
        emit()

    comp = job("--workdir", wd, "--compact-to", wd_c)
    leg["compact_wall_s"] = comp["wall_s"]
    leg["append_speedup_vs_full"] = round(
        leg["full_union_wall_s"] / leg["epoch_walls_s"][-1], 2
    )
    # stage-work comparison with per-action job latency excluded on BOTH
    # sides (at this small leg size the ~12s JVM startup + flat action
    # tails dominate the job walls; production runs amortize them away)
    full_stage = sum(r["wall_s"] for r in stage_records(wd_full))
    leg["full_union_stage_wall_s"] = round(full_stage, 2)
    leg["append_stage_speedup_vs_full"] = round(
        full_stage / leg["epoch_stage_walls_s"][-1], 2
    )
    emit()


# ---------------------------------------------------------------- ANN leg

def ann_kernel_bench() -> dict:
    """dim-768 ANN receipts: the two candidate-generation paths (expression
    scans vs the one-scan Arrow kernels) and the isolated per-pair scorer
    (JVM fold vs Arrow) — the measurements behind the kernel-vs-expression
    division of labor (see BENCH/BASELINE.md round-4 investigation:
    per-pair Arrow scoring LOSES to the JVM fold because JVM→Arrow
    transfer dominates; once-per-vector kernels win 2-8x).  Bit-identical
    outputs throughout (tests/test_kernels_parity.py)."""
    import numpy as np
    from pyspark.sql import functions as F

    from project_cascade_spark.operators.similarity import (
        ivf_topk,
        srp_lsh_topk,
        train_ivf_centroids,
    )
    from project_cascade_spark.session import build_session

    spark = build_session("cascade-ann768", master=f"local[{CPUS}]")
    rng = np.random.RandomState(7)
    n, dim = int(os.environ.get("CASCADE_BENCH_ANN_N", "1500")), 768
    vecs = rng.randn(n, dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(32).persist()
    emb.count()
    cents = train_ivf_centroids(vecs[:256], n_cells=16)

    def ivf(uk):
        return ivf_topk(emb, "vec_id", "embedding", dim=dim, k=5, n_cells=16,
                        n_probe=4, centroids=cents, use_kernel=uk)

    def srp(uk):
        return srp_lsh_topk(emb, "vec_id", "embedding", dim=dim, k=5,
                            n_planes=8, n_tables=4, use_kernel=uk)

    out: dict = {"n": n, "dim": dim}
    for name, fn in (("ivf", ivf), ("srp", srp)):
        for uk in (False, True):
            t0 = time.time()
            fn(uk).count()
            out[f"{name}_{'kernel' if uk else 'expr'}_s"] = round(time.time() - t0, 2)
        out[f"{name}_kernel_speedup"] = round(
            out[f"{name}_expr_s"] / max(out[f"{name}_kernel_s"], 1e-9), 2
        )
    # the per-pair SCORER in isolation on a persisted candidate join:
    # expression dot fold (norms hoisted) vs the zero-copy Arrow kernel —
    # the measurement that demoted per-pair Arrow scoring to opt-in
    from project_cascade_spark.functions.kernels import score_pairs_arrow
    from project_cascade_spark.operators.similarity import _score_joined, _vec_norm

    a = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"),
                   _vec_norm("embedding").alias("_qn"))
    b = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"),
                   _vec_norm("embedding").alias("_nn"))
    joined = (
        a.crossJoin(b)
        .filter((F.col("q_id") * 31 + F.col("n_id")) % 4 == 0)
        .filter(F.col("q_id") != F.col("n_id"))
        .persist()
    )
    out["score_pairs"] = joined.count()
    t0 = time.time()
    _score_joined(joined, False).agg(F.sum("cosine")).collect()
    out["score_expr_s"] = round(time.time() - t0, 2)
    t0 = time.time()
    score_pairs_arrow(joined, 768).agg(F.sum("cosine")).collect()
    out["score_arrow_s"] = round(time.time() - t0, 2)
    out["score_expr_vs_arrow"] = round(
        out["score_arrow_s"] / max(out["score_expr_s"], 1e-9), 2
    )
    joined.unpersist()
    emb.unpersist()
    spark.stop()
    return out


# ---------------------------------------------------------------- main

def main() -> None:
    # -- leg 1: headline queries at SF_DIR (32 threads), freshest box —
    # probe first and rest until the box reads calibrated-cold, so these
    # cross-round-comparable walls aren't poisoned by whatever ran before
    probe_and_rest("start")
    emit()
    from project_cascade_spark.session import build_session

    import __spark_entry__ as entrymod

    spark = build_session("cascade-bench", master=f"local[{CPUS}]")
    qs = entrymod.queries()
    for name in HEADLINE:
        t0 = time.time()
        qs[name](spark, SF_DIR).count()
        RESULT["queries"][name] = round(time.time() - t0, 3)
        RESULT["value"] = round(sum(RESULT["queries"].values()), 3)
        emit()
    spark.stop()
    RESULT["legs_completed"].append("headline")
    emit()

    # -- leg 2: the N→4N scaling pairs, fresh process per leg.  Pairs run
    # SEQUENTIALLY in priority order (the append chain slots in right
    # after the first pair — see PAIRS_SPEC); within a pair, levels are
    # interleaved per rep round (descending core count) so any residual
    # slow drift in host speed hits both levels symmetrically.  Walls
    # fluctuate with host interference (one-sided — it only ever adds
    # time), so each level keeps the best of its reps; a pair's efficiency
    # uses the SAME number of reps from both levels (min-of-k stays a
    # symmetric estimator even if a kill truncates the last round).
    walls: dict[tuple[int, int], list[float]] = {}
    pipeline: dict = {
        "pairs": [f"{a}:{b}@{f}x{r}" for a, b, f, r in PAIRS],
        "hardware_note": (
            "sandbox delivers ~6.5 effective cores; each leg is "
            "best-of-reps (host interference is one-sided); 2->8 sits "
            "against the measured 0.80 shared-L3 per-core ceiling of this "
            "box; see BENCH/BASELINE.md"
        ),
    }
    RESULT["pipeline"] = pipeline

    def recompute_pipeline() -> None:
        for (lvl, files), ws in walls.items():
            best = min(ws)
            pipeline[f"wall_s_n{lvl}_f{files}"] = round(best, 2)
            pipeline[f"files_per_sec_n{lvl}_f{files}"] = round(files / best, 1)
            pipeline[f"wall_s_n{lvl}_f{files}_all_reps"] = [round(w, 2) for w in ws]
        for a, b, files, _reps in PAIRS:
            wa, wb = walls.get((a, files)), walls.get((b, files))
            if not wa or not wb:
                continue
            k = min(len(wa), len(wb))
            eff = (files / min(wb[:k])) / ((b / a) * (files / min(wa[:k])))
            pipeline[f"scaling_efficiency_{a}_to_{b}_f{files}"] = round(eff, 3)
            pipeline[f"scaling_reps_used_{a}_to_{b}_f{files}"] = k

    def run_pair(a: int, b: int, files: int, reps: int) -> None:
        probe_and_rest(f"pair_{a}_{b}_f{files}")
        path = corpus_path(files)
        for _rep in range(reps):
            for lvl in (b, a):   # descending core count within a round
                time.sleep(COOLDOWN_BIG_S if lvl >= 4 else COOLDOWN_SMALL_S)
                _n, w = run_pipeline_subprocess(lvl, path)
                walls.setdefault((lvl, files), []).append(w)
                recompute_pipeline()
                RESULT["value"] = round(
                    sum(RESULT["queries"].values())
                    + sum(min(ws) for ws in walls.values()), 3,
                )
                emit()
        RESULT["legs_completed"].append(f"pair_{a}_to_{b}_f{files}")
        emit()

    run_pair(*PAIRS[0])

    # -- leg 3: incremental-append chain (emits per sub-job internally) —
    # BEFORE the remaining pairs: its per-epoch receipt is a named round
    # deliverable, the 1->4 pair is three-rounds stable
    if APPEND_BASE_FILES:
        run_append_bench()
        RESULT["legs_completed"].append("append")
        emit()

    for pair in PAIRS[1:]:
        run_pair(*pair)

    # -- budget-gated long legs.  Estimates are generous prior-round
    # walls; skipped legs point at BENCH/BASELINE.md, where the builder's
    # full runs (CASCADE_BENCH_BUDGET_S=0) keep the receipts current.
    if budget_allows(300):
        RESULT["ann_kernel_dim768"] = ann_kernel_bench()
        RESULT["legs_completed"].append("ann768")
    else:
        RESULT["ann_kernel_dim768"] = "skipped_for_budget (see BENCH/BASELINE.md)"
    emit()

    if SF1_FILES and budget_allows(1300):
        sf1_path = corpus_path(SF1_FILES)
        time.sleep(COOLDOWN_BIG_S)
        sf1_n, sf1_wall, sf1_report = run_pipeline_scale_subprocess(SF1_N, sf1_path)
        scale_10x = {
            "files": sf1_n,
            "cores": SF1_N,
            "wall_s": round(sf1_wall, 2),
            "files_per_sec": round(sf1_n / sf1_wall, 1),
            **sf1_report,
        }
        # rested-rerun rule: a >15% regression vs the recorded prior round
        # is throttle-suspect — cool down properly and measure again,
        # keeping both walls in the receipt
        if PREV_10X_WALL_S and sf1_wall > 1.15 * PREV_10X_WALL_S and budget_allows(1300):
            time.sleep(3 * COOLDOWN_BIG_S)
            _n2, wall2, rep2 = run_pipeline_scale_subprocess(SF1_N, sf1_path)
            scale_10x["rested_rerun_wall_s"] = round(wall2, 2)
            scale_10x["rested_rerun_skew"] = rep2.get("worst_stage_skew")
            scale_10x["regression_note"] = (
                f"first wall {sf1_wall:.0f}s was >15% over the recorded "
                f"prior-round wall {PREV_10X_WALL_S:.0f}s; rerun after a "
                f"{3 * COOLDOWN_BIG_S}s cool-down"
            )
        RESULT["scale_10x"] = scale_10x
        RESULT["legs_completed"].append("scale_10x")
    elif SF1_FILES:
        RESULT["scale_10x"] = "skipped_for_budget (see BENCH/BASELINE.md)"
    emit()


if __name__ == "__main__":
    main()
