"""Tests of tools/ab_pairs.py's arithmetic on canned benchmark JSON lines.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402

SPECS = {"p50_ms": {"better": "lower", "bound": 0.25},
         "rate_per_s": {"better": "higher", "bound": 0.25},
         "api.exec_ms": {"better": "lower", "bound": None}}


def line(p50, rate, exec_ms):
    """One run's JSON line, as perfbench/run.py prints it."""
    return json.dumps({"correct": True, "attempted": 100, "failed": 0, "metrics": {
        "p50_ms": {"value": p50, "unit": "ms"},
        "rate_per_s": {"value": rate, "unit": "1/s"},
        "api.exec_ms": {"value": exec_ms, "unit": "ms"}}})


def pairs(base, change):
    """Pairs of parsed runs from two lists of (p50, rate, exec) triples."""
    return [(json.loads(line(*b)), json.loads(line(*c))) for b, c in zip(base, change)]


def rows(ps):
    return {r[0]: r for r in ab_pairs.summary(ps, SPECS)}


class QuantileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(ab_pairs.quantile(xs, 0.0), 1.0)
        self.assertEqual(ab_pairs.quantile(xs, 1.0), 4.0)
        self.assertEqual(ab_pairs.quantile(xs, 0.5), 2.5)
        self.assertEqual(ab_pairs.quantile(xs, 0.25), 1.75)

    def test_single_value(self):
        self.assertEqual(ab_pairs.quantile([7.0], 0.75), 7.0)


class SummaryTest(unittest.TestCase):
    def test_wins_and_gain_rule_follow_each_metric_direction(self):
        base = [(100 + i, 10.0 - 0.1 * i, 80.0) for i in range(10)]
        change = [(70 + i, 12.0 - 0.1 * i, 60.0) for i in range(10)]
        r = rows(pairs(base, change))
        name, unit, b, c, wins, n, claim, judged = r["p50_ms"]
        self.assertEqual((unit, wins, n, claim, judged), ("ms", 10, 10, True, "ok"))
        self.assertEqual(b, [x[0] for x in base])
        self.assertEqual(r["rate_per_s"][4:], (10, 10, True, "ok"))
        # a per-layer metric has no bound and so no verdict
        self.assertEqual(r["api.exec_ms"][4:], (10, 10, True, None))

    def test_gain_needs_nine_tenths_of_pairs(self):
        base = [(100.0, 10.0, 80.0)] * 10
        change = [(50.0, 10.0, 80.0)] * 8 + [(150.0, 10.0, 80.0)] * 2
        p50 = rows(pairs(base, change))["p50_ms"]
        self.assertEqual(p50[4], 8)
        self.assertFalse(p50[6])

    def test_gain_needs_median_gap_beyond_base_iqr(self):
        base = [(90.0 + 5 * i, 10.0, 80.0) for i in range(10)]  # IQR 22.5
        change = [(b - 10.0, 10.0, 80.0) for b, _, _ in base]
        p50 = rows(pairs(base, change))["p50_ms"]
        self.assertEqual(p50[4], 10)
        self.assertFalse(p50[6])

    def test_ties_count_for_neither_side(self):
        base = [(100.0, 10.0, 80.0)] * 10
        r = rows(pairs(base, base))
        self.assertEqual(r["p50_ms"][4], 0)
        self.assertEqual(r["p50_ms"][7], "ok")


class VerdictTest(unittest.TestCase):
    def test_within_bound_is_ok(self):
        self.assertEqual(ab_pairs.verdict([100, 101, 102], [120, 121, 122], True, 0.25), "ok")
        self.assertEqual(ab_pairs.verdict([10, 10, 10], [8, 8, 8], False, 0.25), "ok")

    def test_beyond_bound_is_worse(self):
        self.assertEqual(ab_pairs.verdict([100, 101, 102], [130, 131, 132], True, 0.25), "WORSE")
        self.assertEqual(ab_pairs.verdict([10, 10, 10], [7, 7, 7], False, 0.25), "WORSE")

    def test_wide_base_spread_is_unresolved(self):
        base = [50.0, 100.0, 150.0]  # IQR / median = 0.5 > 0.25
        self.assertEqual(ab_pairs.verdict(base, [100.0, 100.0, 100.0], True, 0.25), "unresolved")
        self.assertEqual(ab_pairs.verdict(base, [400.0, 400.0, 400.0], True, 0.25), "unresolved")

    def test_wide_base_spread_resolved_when_every_change_run_beats_every_base_run(self):
        base = [50.0, 100.0, 150.0]
        self.assertEqual(ab_pairs.verdict(base, [40.0, 45.0, 49.0], True, 0.25), "ok")
        self.assertEqual(ab_pairs.verdict([1.0, 2.0, 3.0], [4.0, 5.0], False, 0.25), "ok")

    def test_summary_reports_worse_per_metric(self):
        base = [(100.0, 10.0, 80.0)] * 10
        change = [(140.0, 10.0, 80.0)] * 10
        r = rows(pairs(base, change))
        self.assertEqual(r["p50_ms"][7], "WORSE")
        self.assertEqual(r["rate_per_s"][7], "ok")


if __name__ == "__main__":
    unittest.main()
