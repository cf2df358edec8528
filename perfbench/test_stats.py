"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import stats


def op(i, ms, ok=True, timed=True, kind="slice"):
    return [i, kind, ms, ok, timed]


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(80), 87)

    def test_every_choice_leaves_ten_beyond_and_the_next_does_not(self):
        for n in range(21, 2000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p / 100 * n), 10, n)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) / 100 * n), 10, n)

    def test_small_samples_fall_back_to_the_median(self):
        for n in (1, 5, 12, 20):
            self.assertEqual(stats.tail_percentile(n), 50)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 50), 50)
        self.assertEqual(stats.nearest_rank(xs, 90), 90)
        self.assertEqual(stats.nearest_rank([7.0], 99), 7.0)


class FailuresAreMisses(unittest.TestCase):
    def test_failed_operation_sorts_above_every_latency(self):
        ops = [op(i, 10.0) for i in range(99)] + [op(99, 1.0, ok=False)]
        self.assertEqual(stats.latencies(ops)[-1], stats.MISS)
        n, p50, p, tail, _ = stats.summarize(stats.latencies(ops))
        self.assertEqual((n, p50, p, tail), (100, 10.0, 90, 10.0))

    def test_enough_failures_push_the_tail_to_a_miss(self):
        ops = [op(i, 10.0) for i in range(89)] + [op(89 + i, 1.0, ok=False) for i in range(11)]
        _, _, p, tail, geo = stats.summarize(stats.latencies(ops))
        self.assertEqual((p, tail), (90, stats.MISS))
        self.assertAlmostEqual(geo, 10.0)  # the mean covers successes only

    def test_a_miss_reports_as_the_sentinel(self):
        raw = {"ops": [op(1, 5.0, ok=False)],
               "values": {"setup_total_s": 1.0, "live_heap_mb": 1.0}}
        m = stats.end_to_end(raw)
        self.assertEqual(m["p50_ms"], stats.MISS_MS)
        self.assertEqual(m["tail_ms"], stats.MISS_MS)
        self.assertEqual(m["rate_per_s"], 0.0)

    def test_untimed_operations_are_not_latencies(self):
        ops = [op(1, 3.0), op(2, 1000.0, timed=False), op(3, 5.0, ok=False, timed=False)]
        self.assertEqual(stats.latencies(ops), [3.0])


class SelfTime(unittest.TestCase):
    def test_children_covering_overlapping_parts_count_once(self):
        spans = [[1, 0, 7, "op", 0, 100],
                 [2, 1, 7, "a", 10, 30], [3, 1, 7, "b", 20, 50], [4, 1, 7, "c", 60, 70]]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20)

    def test_only_direct_children_are_subtracted(self):
        spans = [[1, 0, 1, "op", 0, 100], [2, 1, 1, "verb", 0, 60],
                 [3, 2, 1, "open", 0, 50]]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (40, 10, 50))

    def test_child_time_outside_the_parent_is_clipped(self):
        spans = [[1, 0, 1, "op", 10, 20], [2, 1, 1, "x", 0, 15]]
        self.assertEqual(stats.self_times(spans)[1], 5)


class Rate(unittest.TestCase):
    def test_closed_loop_rate_is_successes_per_second_of_latency(self):
        raw = {"ops": [op(1, 500.0), op(2, 500.0), op(3, 9.0, ok=False), op(4, 1.0, timed=False)],
               "values": {}}
        self.assertAlmostEqual(stats.rate(raw), 2.0)


class MetricNames(unittest.TestCase):
    """The metrics a run prints are exactly the ones BENCHMARK.json names."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        self.raw = {"ops": [op(1, 5.0)], "spans": [[1, 0, 1, "op.slice", 0, 5]],
                    "op_counters": {}, "probe": None,
                    "values": {"setup_total_s": 1.0, "live_heap_mb": 1.0, "calib_s": 0.1}}

    def test_end_to_end(self):
        self.assertEqual(list(stats.end_to_end(self.raw)),
                         [m["name"] for m in self.bench["end_to_end"]])

    def test_per_layer(self):
        self.assertEqual(sorted(stats.per_layer(self.raw)),
                         sorted(m["name"] for m in self.bench["per_layer"]))

    def test_units(self):
        import run
        for m in self.bench["end_to_end"]:
            self.assertEqual(run.E2E_UNITS[m["name"]], m["unit"], m["name"])
        for m in self.bench["per_layer"]:
            self.assertEqual(run.unit_of(m["name"]), m["unit"], m["name"])


if __name__ == "__main__":
    unittest.main()
