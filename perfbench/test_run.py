#!/usr/bin/env python3
"""Tests of the benchmark's own helpers: python3 perfbench/test_run.py

The canonical digest is tested with the harness (CanonSpec, `sbt test` in
perfbench/harness)."""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import trace_report  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_known_values(self):
        sample = [7.0, 1.0, 3.0, 10.0, 2.0, 5.0, 4.0, 9.0, 6.0, 8.0]
        self.assertAlmostEqual(run.percentile(sample, 50), 5.5)
        self.assertAlmostEqual(run.percentile(sample, 90), 9.1)
        self.assertAlmostEqual(run.percentile(sample, 0), 1.0)
        self.assertAlmostEqual(run.percentile(sample, 100), 10.0)
        self.assertAlmostEqual(run.percentile([4.0], 90), 4.0)
        self.assertEqual(run.median([3, 1, 2]), 2)

    def test_agrees_with_statistics_inclusive(self):
        sample = [0.31, 2.5, 0.07, 1.2, 0.9, 4.4, 0.5]
        q = statistics.quantiles(sample, n=4, method="inclusive")
        self.assertAlmostEqual(run.percentile(sample, 25), q[0])
        self.assertAlmostEqual(run.percentile(sample, 75), q[2])

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)


class SampleTest(unittest.TestCase):
    pins = {"queries": {
        **{f"a{i:02d}_x": {"module": "A", "artifact": False, "ref_s": i / 20}
           for i in range(80)},
        **{f"b{i:02d}_x": {"module": "B", "artifact": i < 3, "ref_s": 1.0}
           for i in range(10)},
        "c00_dear": {"module": "C", "artifact": False,
                     "ref_s": run.COST_CAP_S + 1}}}

    def test_median_cost_query_of_each_module_in_name_order(self):
        s = run.sample_queries(self.pins)
        # A: ref_s = i/20, so the cap keeps a00..a(20*cap) and the median of
        # those is picked; B: equal costs, ordered by name; C: above the
        # cost cap, so the module has no query to run
        kept = int(run.COST_CAP_S * 20) + 1
        self.assertEqual(s, [f"a{(kept - 1) // 2:02d}_x", "b04_x"])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "start_ms": 0, "end_ms": 10000, "seconds": 10.0},
            {"id": 1, "parent": 0, "start_ms": 1000, "end_ms": 4000, "seconds": 3.0},
            {"id": 2, "parent": 0, "start_ms": 3000, "end_ms": 6000, "seconds": 3.0},
            {"id": 3, "parent": 2, "start_ms": 3000, "end_ms": 5000, "seconds": 2.0}]
        st = trace_report.self_times(spans)
        self.assertAlmostEqual(st[0], 5.0)  # children cover 1..6 s
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 1.0)
        self.assertAlmostEqual(st[3], 2.0)


if __name__ == "__main__":
    unittest.main()
