"""Tests for evlog.py on a tiny recorded Spark 4.1.2 event log.

``testdata/tiny_eventlog.json`` was recorded with
``spark.eventLog.compress=false`` from a local[2] session (AQE off, 3
shuffle partitions) that ran three jobs:

- job 0, one 1-task stage, before any span opened;
- job 1, a 2-task map stage and a 1-task final stage, inside ``layer.a:scan``;
- job 2, a 4-task map stage and a 3-task reduce stage, inside
  ``layer.b:group``.

Both spans nest in ``outer:run`` (``testdata/tiny_spans.json``).  Only the
job, stage, task and application events were kept, with the per-RDD and
call-site detail removed to keep the file small.

Run with: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

from __future__ import annotations

import json
import os
import unittest

import evlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def load():
    events = evlog.read_events(os.path.join(DATA, "tiny_eventlog.json"))
    with open(os.path.join(DATA, "tiny_spans.json")) as f:
        spans = json.load(f)
    return events, spans


class FoldTest(unittest.TestCase):
    def setUp(self):
        self.events, self.spans = load()
        out = evlog.fold(self.events, self.spans)
        self.out = out
        self.by_name = {
            self.spans[i]["name"]: c for i, c in out.items() if isinstance(i, int)
        }

    def test_jobs_go_to_the_innermost_open_span(self):
        self.assertEqual(self.by_name["layer.a:scan"]["jobs"], 1)
        self.assertEqual(self.by_name["layer.b:group"]["jobs"], 1)
        # the enclosing span submitted no job of its own
        self.assertNotIn("outer:run", self.by_name)
        self.assertEqual(self.out[None]["jobs"], 1)

    def test_stages_and_tasks_follow_their_job(self):
        a, b, outside = self.by_name["layer.a:scan"], self.by_name["layer.b:group"], self.out[None]
        self.assertEqual((a["stages"], a["tasks"]), (2, 3))
        self.assertEqual((b["stages"], b["tasks"]), (2, 7))
        self.assertEqual((outside["stages"], outside["tasks"]), (1, 1))

    def test_totals_match_the_task_end_events(self):
        ends = [e for e in self.events if e["Event"] == "SparkListenerTaskEnd"]
        total = self.out["_total"]
        self.assertEqual(total["tasks"], len(ends))
        self.assertAlmostEqual(
            total["executor_run_s"],
            sum(e["Task Metrics"]["Executor Run Time"] for e in ends) / 1000.0,
        )
        self.assertAlmostEqual(
            total["executor_cpu_s"],
            sum(e["Task Metrics"]["Executor CPU Time"] for e in ends) / 1e9,
        )
        self.assertEqual(total["jobs"], 3)
        self.assertEqual(total["stages"], 5)

    def test_shuffle_bytes_balance_within_a_span(self):
        b = self.by_name["layer.b:group"]
        self.assertGreater(b["shuffle_write_bytes"], 0)
        self.assertEqual(b["shuffle_write_bytes"], b["shuffle_read_bytes"])
        self.assertEqual(self.out[None]["shuffle_write_bytes"], 0)

    def test_skew_ignores_short_stages(self):
        # every stage here is far below SKEW_MIN_TASKS / SKEW_MIN_MEDIAN_MS
        self.assertEqual(self.out["_stage_skew"], {})


if __name__ == "__main__":
    unittest.main()
