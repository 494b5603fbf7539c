"""Benchmark of the dedup engine at local[4].

    python3 perfbench/run.py --workload batch|queries --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  The harness (this process)
generates the inputs (a seeded ``batch`` corpus, the fixed ``queries``
dataset) once into ``perfbench/.cache``, starts ``leg.py`` in a fresh
process with a fresh work directory and ``SPARK_LOCAL_DIRS`` under
``perfbench/.runs``, samples the peak RSS and the CPU time of that process
tree from ``/proc``, checks
the outputs, and prints one JSON object as the last line of standard
output.  With ``--trace 0`` it holds the end-to-end metrics; with
``--trace 1`` the per-layer metrics, folded from Spark's event log by span.
A line before it (``{"detail": ...}``) carries the workload's own figures.
See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

import pandas as pd

import evlog
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>

# Chosen so one run, Spark start-up included, stays near a minute on a
# 4-core box (see README.md for the budget).
BATCH_FILES = 2000
DRIVER_MEM = "4g"
# The child is stopped if it outlives this; a run must end within 180 s.
CHILD_TIMEOUT_S = 165
MIN_RECALL = 0.99
MIN_PRECISION = 0.99


def set_child_subreaper() -> None:
    """Make this process the subreaper of its descendants: a process whose
    parent exits is re-parented here, not to init.  The PySpark daemon puts
    itself and its Python workers in a process group of their own, so the
    measured tree is found by parent pid, and it stays whole under this
    process until every member has ended and been reaped here."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def proc_tree(root: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command, for every descendant of
    ``root`` (found by walking parent pids)."""
    stats = {}
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        fields = stat.rsplit(")", 1)[1].split()
        stats[int(name)] = fields
        children[int(fields[1])].append(int(name))
    tree = {}
    todo = list(children[root])
    while todo:
        pid = todo.pop()
        tree[pid] = stats[pid]
        todo += children[pid]
    return tree


class TreeSampler(threading.Thread):
    """Reads /proc every 100 ms for every descendant of this process (the
    leg's Python driver, the JVM, the PySpark daemon and its Python
    workers): the peak of their summed RSS, and the CPU time (user +
    system) each has used, kept per process so the total survives
    processes that exit.  A process's last 100 ms may go unseen."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_rss = 0
        self.cpu_ticks: dict[tuple[int, str], int] = {}
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.sample()

    def sample(self) -> None:
        rss = 0
        for pid, fields in proc_tree(os.getpid()).items():
            # stat fields after the command: utime is the 12th, stime the
            # 13th, starttime the 20th (it tells a reused pid apart), rss
            # (pages) the 22nd
            key = pid, fields[19]
            ticks = int(fields[11]) + int(fields[12])
            self.cpu_ticks[key] = max(self.cpu_ticks.get(key, 0), ticks)
            rss += int(fields[21]) * self._page
        self.peak_rss = max(self.peak_rss, rss)

    def cpu_s(self) -> float:
        return sum(self.cpu_ticks.values()) / os.sysconf("SC_CLK_TCK")

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_tree() -> None:
    """Terminate every descendant left, wait until each has ended, then
    reap them all: with this process their subreaper, each ends up a child
    of it once its own parent is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10.0
        sent = False
        while time.time() < deadline:
            # zombies have ended; they only wait to be reaped
            alive = [p for p, f in proc_tree(os.getpid()).items() if f[0] != "Z"]
            if not alive:
                break
            if not sent:
                for pid in alive:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                sent = True
            time.sleep(0.1)
    while True:
        try:
            os.wait()
        except ChildProcessError:
            return


def run_leg(a, data: str, rundir: str) -> tuple[dict, float, float, float]:
    """Start leg.py in a fresh process; return its result, its spawn time,
    the CPU time (user + system) of its whole process tree and the peak RSS
    of that tree in bytes."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(rundir, d))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(rundir, "spark-local"),
        "TMPDIR": os.path.join(rundir, "tmp"),
        # the program's default heap (24g) is more than the 16 GB VM the
        # benchmark is sized for; 4g leaves the timings as they are and
        # bounds the JVM's share (README.md, "Driver heap")
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
    })
    out_path = os.path.join(rundir, "leg.json")
    cmd = [
        sys.executable, os.path.join(HERE, "leg.py"),
        "--workload", a.workload, "--inputs", data, "--rundir", rundir,
        "--out", out_path, "--seconds", str(a.seconds), "--seed", str(a.seed),
        "--trace", str(a.trace),
    ]
    log_path = os.path.join(rundir, "leg.log")
    set_child_subreaper()
    sampler = TreeSampler()
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            cmd, cwd=rundir, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        sampler.start()
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = f"timeout after {CHILD_TIMEOUT_S} s"
            proc.kill()
            proc.wait()
        finally:
            # the JVM and the PySpark daemon may outlive the leg's Python
            # process; the sampler watches them until they have ended
            stop_tree()
            sampler.stop()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"leg exited with {rc}:\n{tail}")
    with open(out_path) as f:
        return json.load(f), t_spawn, sampler.cpu_s(), sampler.peak_rss


def pair_scores(members: dict, truth_group: dict, planted: set) -> tuple[float, float]:
    """Recall and precision of same-cluster pairs against planted pairs.

    ``members`` maps cluster id -> item keys; ``truth_group`` maps item key
    -> planted group; ``planted`` holds the groups whose member pairs are
    true duplicates."""
    true_pairs = defaultdict(list)
    for key, g in truth_group.items():
        if g in planted:
            true_pairs[g].append(key)
    n_true = sum(len(v) * (len(v) - 1) // 2 for v in true_pairs.values())
    n_pred = hit = 0
    for keys in members.values():
        for x, y in itertools.combinations(keys, 2):
            n_pred += 1
            gx, gy = truth_group[x], truth_group[y]
            hit += int(gx == gy and gx in planted)
    return hit / max(n_true, 1), hit / max(n_pred, 1)


# ---------------------------------------------------------------- workloads

def check_batch(data: str, leg: dict) -> tuple[dict, dict, int, int]:
    truth = pd.read_parquet(os.path.join(data, "truth.parquet"))
    ops = leg["ops"]
    attempted = len(ops)
    ref = ops[0]["counts"]
    failed = sum(
        1 for op in ops if op["counts"] != ref or op["counts"]["files"] != len(truth)
    )
    key = list(zip(truth["repo"], truth["path"], truth["commit"]))
    truth_group = dict(zip(key, truth["group_id"]))
    planted = set(truth.loc[truth["kind"].isin(["near", "short", "exact"]), "group_id"])
    members = defaultdict(list)
    for repo, path, commit, _fid, cid in leg["assignments"]:
        members[cid].append((repo, path, commit))
    recall, precision = pair_scores(members, truth_group, planted)
    attempted += 1
    failed += int(recall < MIN_RECALL or precision < MIN_PRECISION
                  or len(leg["assignments"]) != len(truth))
    warm = [op["wall"] for op in ops[1:]] or [ops[0]["wall"]]
    e2e = {
        "first_op_s": ops[0]["wall"],
        "op_s": statistics.median(warm),
        "first_result_at": ops[0]["end"],
        "dup_pair_recall": recall,
        "dup_pair_precision": precision,
    }
    detail = {
        "files": ref["files"], "clusters": ref["clusters"], "edges": ref["edges"],
        "substring_pairs": ref["substring_pairs"],
        "op_walls_s": [op["wall"] for op in ops],
        "files_per_s": ref["files"] / e2e["op_s"],
    }
    if "durable" in leg:
        d = leg["durable"]
        full = {fid: cid for _r, _p, _c, fid, cid in leg["assignments"]}
        epoch = dict(map(tuple, d["epoch_assignments"]))
        ok = {
            # the base split drops every tenth file (inputs.batch_inputs)
            "base": d["base_files"] == len(truth) - len(range(0, len(truth), 10)),
            "resume": d["resume_computed"] == [],
            "append_equals_full": epoch == full,
        }
        attempted += len(ok)
        failed += sum(not v for v in ok.values())
        detail["durable_checks"] = ok
    return e2e, detail, attempted, failed


def check_queries(data: str, leg: dict) -> tuple[dict, dict, int, int]:
    with open(os.path.join(data, "oracle.json")) as f:
        oracle = json.load(f)
    passes = leg["passes"]
    attempted = failed = 0
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            failed += int(q["rows"] != oracle[q["query"]])
    truth = pd.read_parquet(os.path.join(data, "doc_truth.parquet"))
    truth_group = dict(zip(truth["doc_id"], truth["group_id"]))
    sizes = truth["group_id"].value_counts()
    planted = set(sizes[sizes > 1].index)
    members = defaultdict(list)
    for doc_id, cid in leg["near_dup"]:
        members[cid].append(doc_id)
    recall, precision = pair_scores(members, truth_group, planted)
    attempted += 1
    failed += int(recall < MIN_RECALL or precision < MIN_PRECISION)
    warm = [p["wall"] for p in passes[1:]] or [passes[0]["wall"]]
    e2e = {
        "first_op_s": passes[0]["queries"][0]["wall"],
        "op_s": statistics.median(warm),
        "first_result_at": passes[0]["end"],
        "dup_pair_recall": recall,
        "dup_pair_precision": precision,
    }
    names = [q["query"] for q in passes[0]["queries"]]
    timed = passes[1:] or passes
    per_query = {
        n: statistics.median(
            [q["wall"] for p in timed for q in p["queries"] if q["query"] == n]
        )
        for n in names
    }
    detail = {
        "query_suite_s": e2e["op_s"],
        "pass_walls_s": [p["wall"] for p in passes],
        **{f"queries.{n}_s": v for n, v in per_query.items()},
        "rows": {q["query"]: q["rows"] for q in passes[0]["queries"]},
    }
    return e2e, detail, attempted, failed


# ------------------------------------------------------------------ tracing

def traced_metrics(leg: dict, rundir: str) -> tuple[dict, dict]:
    """Per-layer metrics: the leg's layer probes plus Spark's counters
    folded from the event log onto the leg's spans."""
    spans = leg["spans"]
    # one application per run, so the log directory holds one file
    evdir = os.path.join(rundir, "eventlog")
    (log_name,) = os.listdir(evdir)
    events = evlog.read_events(os.path.join(evdir, log_name))
    folded = evlog.fold(events, spans)
    total = folded["_total"]

    def ancestors(i):
        while i is not None:
            yield i
            i = spans[i]["parent"]

    op_idx = {i for i, s in enumerate(spans) if s["name"].startswith("op:")}
    op_run_s = 0.0
    by_layer = defaultdict(lambda: defaultdict(float))
    for idx, counters in folded.items():
        if not isinstance(idx, int) and idx is not None:
            continue
        # span names are "<layer>:<call>"
        layer = "(outside spans)" if idx is None else spans[idx]["name"].split(":", 1)[0]
        for k, v in counters.items():
            by_layer[layer][k] += v
        if idx is not None and op_idx.intersection(ancestors(idx)):
            op_run_s += counters["executor_run_s"]
    op_wall = sum(spans[i]["end"] - spans[i]["start"] for i in op_idx)
    outside = folded.get(None, {}).get("executor_run_s", 0.0)
    m = dict(leg["layers"])
    m["session.build_s"] = leg["setup_s"]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s"):
        m[f"spark.{k}"] = total[k]
    m["spark.idle_core_frac"] = 1 - op_run_s / (CORES * op_wall)
    m["spark.max_task_skew"] = folded["_stage_skew"].get("_total", 1.0)
    m["spark.named_span_frac"] = 1 - outside / max(total["executor_run_s"], 1e-9)
    layers = leg["layers"]
    detail = {
        "reps": leg["reps"],
        # the layer probes' walls, to compare with one fused operation
        "op_wall_s": op_wall,
        "probe_kernels_s": sum(
            leg["reps"] / layers[f"kernels.{k}_rows_per_s"]
            for k in ("shingle", "minhash", "simhash", "winnow")
        ),
        "probe_operators_s": sum(
            layers[f"{k}.s"] for k in ("lsh", "simhash", "verify", "cc", "suffix")
        ),
        "spark.fetch_wait_s": total["fetch_wait_s"],
        "spark_by_layer": {k: dict(v) for k, v in by_layer.items()},
        "spark_skew_by_span": {
            spans[i]["name"]: r for i, r in folded["_stage_skew"].items()
            if isinstance(i, int)
        },
    }
    if "durable" in leg:
        d = leg["durable"]
        for stage, s in sorted(d["stage_s"].items()):
            detail[f"pipeline.stage.{stage}_s"] = s
        detail.update({
            "base_s": d["base_s"],
            "epoch_s": d["epoch_s"],
            "sinks.write_s": d["write_s"],
            "sinks.bytes_written": d["bytes_written"],
            "sinks.write_amp": d["bytes_written"] / d["input_bytes"],
            "sinks.resume_s": d["resume_s"],
            "append.epoch_stage_s": d["epoch_stage_s"],
            "append.epoch_bytes": d["epoch_bytes"],
            "append.epoch_fixed_s": d["epoch_s"] - d["epoch_stage_s"],
        })
    return m, detail


# --------------------------------------------------------------------- main

def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["batch", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "project_cascade_spark", "__init__.py")):
        print(f"perfbench: no project_cascade_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # The fixed queries dataset is built by the first run in a checkout,
    # whichever workload it runs, so that no later run pays for it.
    query_data = inputs.queries_inputs()
    if a.workload == "batch":
        data = inputs.batch_inputs(BATCH_FILES, a.seed)
    else:
        data = query_data
    rundir = os.path.join(HERE, ".runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        leg, t_spawn, cpu_s, peak_rss = run_leg(a, data, rundir)
        peak_mb = peak_rss / 2**20
        check = check_batch if a.workload == "batch" else check_queries
        e2e, detail, attempted, failed = check(data, leg)
        if a.trace:
            metrics, tdetail = traced_metrics(leg, rundir)
            detail.update(tdetail)
            detail.update({
                "traced_setup_s": leg["setup_s"],
                "traced_first_op_s": e2e["first_op_s"],
                "traced_job_s": e2e["first_result_at"] - t_spawn,
            })
        else:
            metrics = {
                "setup_s": leg["setup_s"],
                "job_s": e2e["first_result_at"] - t_spawn,
                "op_s": e2e["op_s"],
                "cpu_s": cpu_s,
                "peak_rss_mb": peak_mb,
                "dup_pair_recall": e2e["dup_pair_recall"],
                "dup_pair_precision": e2e["dup_pair_precision"],
            }
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if a.trace else "end_to_end"]
    detail["peak_rss_mb"] = peak_mb
    detail["first_op_s"] = e2e["first_op_s"]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
