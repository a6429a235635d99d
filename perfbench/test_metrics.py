#!/usr/bin/env python3
"""Self-tests of the benchmark's statistics and failure accounting.

Run: python3 perfbench/test_metrics.py
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def execution(phase, pass_, query, wall, error=None):
    return {"phase": phase, "pass": pass_, "query": query, "wall_s": wall,
            "cpu_s": 2 * wall, "build_s": 0.1, "materialize_s": wall - 0.1,
            "cleanup_s": 0.01, "error": error}


def harness(execs):
    return {"execs": execs, "retained_heap_mb": 80.0, "first_timed_ms": 31000.0,
            "cores": 4}


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([7]), 7)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([5, 1, 3], 90), 5)
        self.assertEqual(metrics.percentile([5, 1, 3], 1), 1)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(metrics.geomean([2, 8, 4]), 4.0)
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])

    def test_union_and_self_time(self):
        self.assertEqual(metrics.union_ms([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(metrics.union_ms([(0, 20)], 5, 10), 5)
        spans = [
            {"id": "q", "parent": None, "start_ms": 0, "end_ms": 1000},
            {"id": "a", "parent": "q", "start_ms": 0, "end_ms": 400},
            {"id": "b", "parent": "q", "start_ms": 300, "end_ms": 600},
        ]
        own = metrics.self_times(spans)
        self.assertAlmostEqual(own["q"], 0.4)
        self.assertAlmostEqual(own["a"], 0.4)


class FailureAccounting(unittest.TestCase):
    """A query that throws and a query with a wrong answer each count as
    failed operations and are left out of wall_s and geomean_s."""

    def setUp(self):
        execs = [execution("check", 0, q, 5.0) for q in ("good", "throws", "wrong")]
        for p in (1, 2, 3):
            execs.append(execution("timed", p, "good", float(p)))
            execs.append(execution("timed", p, "throws", 100.0,
                                   error="boom" if p == 2 else None))
            execs.append(execution("timed", p, "wrong", 1000.0))
        self.h = harness(execs)

    def test_counts(self):
        failed = metrics.failures(self.h, wrong={"wrong"})
        # one throw plus all four executions of the wrong-answer query
        self.assertEqual(len(failed), 5)
        self.assertEqual({e["query"] for e in failed}, {"throws", "wrong"})

    def test_excluded_from_wall(self):
        e2e = metrics.end_to_end(self.h, wrong={"wrong"}, launch_ms=1000.0)
        # passes: 1 + 100, 2 (the throw left out), 3 + 100
        self.assertEqual(e2e["wall_s"], 101.0)
        self.assertEqual(e2e["cpu_s"], 202.0)
        self.assertAlmostEqual(e2e["geomean_s"], math.sqrt(2.0 * 100.0))
        self.assertEqual(e2e["setup_s"], 30.0)

    def test_no_failures(self):
        self.assertEqual(metrics.failures(self.h, wrong=set()), [self.h["execs"][7]])


class PerLayer(unittest.TestCase):
    def test_sums_per_pass_and_medians(self):
        execs = [execution("timed", p, "q", 1.0) for p in (1, 2, 3)]
        spans, counters = [], {}
        for p in (1, 2, 3):
            key = f"timed:{p}:q"
            t0 = 10_000.0 * p
            spans.append({"id": key, "parent": f"timed:{p}", "name": "query",
                          "start_ms": t0, "end_ms": t0 + 1010})
            spans.append({"id": f"job:{p}", "parent": key, "name": "spark.job",
                          "start_ms": t0 + 100, "end_ms": t0 + 700})
            spans.append({"id": f"batch:{p}", "parent": key, "name": "streaming.batch",
                          "start_ms": t0 + 100, "end_ms": t0 + 100 + 10 * p})
            counters[key] = {"scheduler.tasks": 4.0 * p, "executor.cpu_s": 2.0,
                             "operators.join_rows_in": 10.0,
                             "operators.join_rows_out": 5.0,
                             "streaming.runs": 1.0, "streaming.trigger_s": 0.25,
                             "scheduler.task_skew_max": 1.5}
        h = harness(execs)
        h["trace"] = {"spans": spans, "counters": counters}
        m = metrics.per_layer(h, wrong=set())
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual(m["scheduler.tasks"], 8.0)
        self.assertAlmostEqual(m["driver.gap_s"], 0.4)
        self.assertAlmostEqual(m["executor.cpu_util"], 0.5)
        self.assertAlmostEqual(m["operators.join_selectivity"], 0.5)
        self.assertAlmostEqual(m["streaming.outside_batch_s"], 0.75)
        self.assertEqual(m["streaming.batch_p50_ms"], 20.0)
        self.assertEqual(m["scheduler.task_skew_max"], 1.5)
        self.assertEqual(m["storage.rdd_block_bytes"], 0.0)


if __name__ == "__main__":
    unittest.main()
