"""Fold an uncompressed Spark event log into per-span counters (stdlib only).

Spark writes one JSON event per line.  This module reads the job, stage and
task events and attributes each Spark job to the innermost benchmark span
that was open when the job was submitted; every stage is charged to the
first job that lists it, and every task to its stage.  The default event-log
codec (zstd) cannot be read with the standard library, so the benchmark
enables the log with ``spark.eventLog.compress=false``.

Spans are dicts with ``name``, ``start`` and ``end`` (epoch seconds, the
same clock Spark stamps its events with) and ``parent`` (the index of the
enclosing span, or None).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
)

# A stage counts toward task skew (max / median task run time) only with at
# least this many tasks and this median task run time; shorter stages
# measure scheduling noise, not data skew.
SKEW_MIN_TASKS = 8
SKEW_MIN_MEDIAN_MS = 100


def read_events(path: str) -> list[dict]:
    """Events of one single-file log."""
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def innermost_span(spans: list[dict], t: float) -> int | None:
    """Index of the latest-starting span open at time ``t``."""
    best = None
    for i, s in enumerate(spans):
        if s["start"] <= t <= s["end"] and (
            best is None or s["start"] >= spans[best]["start"]
        ):
            best = i
    return best


def fold(events: list[dict], spans: list[dict]) -> dict:
    """Counters per span index (key ``None`` collects jobs submitted outside
    every span), plus ``"_total"`` over the whole log and ``"_stage_skew"``:
    the worst max/median task run time of a stage, per span and in total."""
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    per_span: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    total = dict.fromkeys(COUNTERS, 0)

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            idx = innermost_span(spans, ev["Submission Time"] / 1000.0)
            job_span[jid] = idx
            per_span[idx]["jobs"] += 1
            total["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            per_span[job_span.get(stage_job.get(sid))]["stages"] += 1
            total["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            idx = job_span.get(stage_job.get(sid))
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            delta = {
                "tasks": 1,
                "executor_run_s": run_ms / 1000.0,
                "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            }
            for k, v in delta.items():
                per_span[idx][k] += v
                total[k] += v
            stage_tasks[sid].append(run_ms)

    skew: dict = defaultdict(float)
    for sid, runs in stage_tasks.items():
        if len(runs) < SKEW_MIN_TASKS:
            continue
        med = statistics.median(runs)
        if med < SKEW_MIN_MEDIAN_MS:
            continue
        idx = job_span.get(stage_job.get(sid))
        ratio = max(runs) / med
        skew[idx] = max(skew[idx], ratio)
        skew["_total"] = max(skew["_total"], ratio)
    out = dict(per_span)
    out["_total"] = total
    out["_stage_skew"] = dict(skew)
    return out
