"""Tests of the benchmark's metric arithmetic on synthetic spans.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


def span(start, end, **kw):
    return dict(start=start, end=end, **kw)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 201))  # 1..200
        self.assertEqual(M.percentile(xs, 0.5), 100)
        self.assertEqual(M.percentile(xs, 0.95), 190)
        self.assertEqual(M.percentile(list(reversed(xs)), 0.95), 190)

    def test_sample_floor(self):
        # p95 keeps ten samples beyond it only from 200 samples on
        M.percentile(list(range(200)), 0.95)
        with self.assertRaises(ValueError):
            M.percentile(list(range(199)), 0.95)
        # p99 needs 1000, p90 needs 100
        with self.assertRaises(ValueError):
            M.percentile(list(range(999)), 0.99)
        M.percentile(list(range(100)), 0.9)

    def test_median_has_no_floor(self):
        self.assertEqual(M.percentile([7], 0.5), 7)
        with self.assertRaises(ValueError):
            M.percentile([], 0.5)


class DueTimeLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_not_send_time(self):
        # record 0 was due at 100 and sent late at 130; its batch committed
        # at 150, so its latency is 50, of which 30 is generator lateness
        due = {0: 100, 1: 200, 2: 200}
        commit = {7: 150, 8: 260}
        batch_of = {0: 7, 1: 8, 2: 8}
        self.assertEqual(sorted(M.due_latencies(due, commit, batch_of)), [50, 60, 60])


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_union_of_stages(self):
        ex = span(0, 100)
        # two overlapping stages cover [10, 40], a third covers [60, 70]
        stages = [(10, 30), (20, 40), (60, 70)]
        self.assertEqual(M.union_length(stages), 40)
        self.assertEqual(M.driver_gap(ex, stages), 60)

    def test_stages_outside_the_execution_are_clipped(self):
        self.assertEqual(M.driver_gap(span(50, 100), [(0, 60), (90, 200)]), 30)

    def test_no_stages_is_all_gap(self):
        self.assertEqual(M.driver_gap(span(5, 25), []), 20)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        parent = span(0, 1000)
        kids = [span(100, 400), span(300, 500), span(900, 1100)]
        # children cover [100, 500] and [900, 1000] inside the parent
        self.assertEqual(M.self_time(parent, kids), 1000 - 400 - 100)

    def test_nested_spans(self):
        op = span(0, 100)
        build, ex = span(0, 20), span(20, 100)
        self.assertEqual(M.self_time(op, [build, ex]), 0)
        self.assertEqual(M.self_time(ex, [span(30, 50)]), 60)


if __name__ == "__main__":
    unittest.main()
