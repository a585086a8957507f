#!/usr/bin/env python3
"""Self-test of the benchmark's trace.

Runs the harness traced on the flagship query `yf_month_agg` and checks
that the spans nest, that each query's layer self times add up to no
more than its wall time, and that the query reports the same number of
jobs and actions in every traced pass. Spans keep the times Spark and
the harness recorded, unclipped, so a span placed under the wrong
parent fails the nesting check.

    python3 -m unittest perfbench/test_trace.py
"""
import json
import shutil
import sys
import unittest
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

QUERY = "yf_month_agg"
# One action, the noop write. Four jobs: the schema job of the
# construct-time `Sources.table` read, the write's two shuffle stages and
# its final stage.
EXPECTED_ACTIONS = 1
EXPECTED_JOBS = 4
# Every span time is a whole epoch millisecond, so no slack is needed
# beyond floating-point rounding.
SLACK_MS = 1e-6


class TraceTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.run_dir = build.build_dir() / "runs" / "trace-selftest"
        try:
            cls.result = run.run_harness(
                str(Path.home() / "testdata" / "sf0.1"), [QUERY], cls.run_dir,
                seed=1, seconds=0, trace=1)
            cls.spans = json.loads((cls.run_dir / "spans.json").read_text())
        finally:
            shutil.rmtree(cls.run_dir, ignore_errors=True)

    def test_spans_nest(self):
        by_id = {s["id"]: s for s in self.spans}
        roots = [s for s in self.spans if s["parent"] < 0]
        # One query in each traced pass: four of the eight passes (0, 3, 4, 7).
        self.assertEqual(len(roots), 4)
        for s in self.spans:
            self.assertLessEqual(s["start_ms"], s["end_ms"], s)
            if s["parent"] < 0:
                self.assertEqual(s["layer"], "query")
                continue
            p = by_id[s["parent"]]
            self.assertEqual((s["query"], s["pass"]), (p["query"], p["pass"]))
            self.assertGreaterEqual(s["start_ms"], p["start_ms"] - SLACK_MS, (s, p))
            self.assertLessEqual(s["end_ms"], p["end_ms"] + SLACK_MS, (s, p))
            self.assertLessEqual(s["outside_parent_ms"], SLACK_MS, s)
        for p in self.result["passes"]:
            if p["traced"]:
                self.assertLessEqual(p["layers"]["trace.outside_parent_ms"], SLACK_MS)

    def test_self_times_within_wall_time(self):
        self_ms = defaultdict(float)
        for s in self.spans:
            self.assertGreaterEqual(s["self_ms"], 0.0, s)
            self_ms[(s["query"], s["pass"])] += s["self_ms"]
        for r in (s for s in self.spans if s["parent"] < 0):
            wall = r["end_ms"] - r["start_ms"]
            self.assertLessEqual(self_ms[(r["query"], r["pass"])], wall + SLACK_MS)

    def test_fixed_job_and_action_counts(self):
        traced = [p for p in self.result["passes"] if p["traced"]]
        self.assertEqual([p["index"] for p in traced], [0, 3, 4, 7])
        for p in traced:
            self.assertEqual(p["layers"]["catalyst.actions"], EXPECTED_ACTIONS)
            self.assertEqual(p["layers"]["exec.jobs"], EXPECTED_JOBS)
        jobs = [s for s in self.spans if s["layer"] == "job"]
        self.assertEqual(len(jobs), len(traced) * EXPECTED_JOBS)


if __name__ == "__main__":
    unittest.main()
