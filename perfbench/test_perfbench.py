"""Tests of the benchmark's own statistics and guards.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need no build and no Spark: the oracle check runs on small parquet
files written here.
"""
import os
import statistics
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_p50_needs_twenty_samples(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)


class MedianAndQuartiles(unittest.TestCase):
    def test_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(stats.median(xs), 5.5)
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [9.0, 10.0, 10.0, 10.0, 11.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


def _record(workload, nproc, value, trace=0):
    return {"workload": workload, "trace": trace,
            "conditions": {"nproc": nproc, "master": f"local[{nproc}]",
                           "shuffle_partitions": str(nproc), "java": "17",
                           "spark": "4.1.2", "xmx_mb": 3072,
                           "inputs": {"rows": {"orders": 10}}},
            "metrics": {"op_ms": {"value": value, "unit": "ms"}}}


class ConditionGuard(unittest.TestCase):
    def test_refuses_different_core_counts(self):
        with self.assertRaises(compare.ConditionMismatch):
            compare.check_comparable([_record("w", 32, 1.0)],
                                     [_record("w", 8, 1.0)])

    def test_refuses_mixed_conditions_within_a_set(self):
        with self.assertRaises(compare.ConditionMismatch):
            compare.conditions_by_workload([_record("w", 4, 1.0),
                                            _record("w", 8, 1.0)])

    def test_accepts_same_conditions(self):
        compare.check_comparable([_record("w", 4, 1.0)],
                                 [_record("w", 4, 2.0)])

    def test_refuses_different_run_lengths(self):
        a, b = _record("w", 4, 1.0), _record("w", 4, 1.0)
        a["conditions"]["seconds"], b["conditions"]["seconds"] = 3, 10
        with self.assertRaises(compare.ConditionMismatch):
            compare.check_comparable([a], [b])

    def test_seed_and_head_are_not_conditions(self):
        a, b = _record("w", 4, 1.0), _record("w", 4, 1.0)
        a["conditions"]["seed"], b["conditions"]["seed"] = 1, 2
        self.assertEqual(stats.condition_mismatches(a["conditions"],
                                                    b["conditions"]), [])


class Verdict(unittest.TestCase):
    LOWER = {"better": "lower", "bound": 0.25}
    HIGHER = {"better": "higher", "bound": 0.25}

    def test_ok_when_parent_is_steady(self):
        parent = [100.0, 101.0, 99.0, 100.0, 102.0, 98.0]
        self.assertEqual(compare.verdict(parent, [110.0] * 6, self.LOWER),
                         "ok")

    def test_worse_beyond_the_bound(self):
        parent = [100.0, 101.0, 99.0, 100.0, 102.0, 98.0]
        self.assertEqual(compare.verdict(parent, [130.0] * 6, self.LOWER),
                         "WORSE")
        self.assertEqual(compare.verdict(parent, [70.0] * 6, self.HIGHER),
                         "WORSE")

    def test_unresolved_when_parent_spreads_past_the_bound(self):
        parent = [60.0, 80.0, 100.0, 100.0, 120.0, 140.0]
        self.assertGreater(stats.spread(parent), 0.25)
        self.assertEqual(compare.verdict(parent, [100.0] * 6, self.LOWER),
                         "UNRESOLVED")

    def test_wide_parent_resolves_when_every_change_run_beats_it(self):
        parent = [60.0, 80.0, 100.0, 100.0, 120.0, 140.0]
        self.assertEqual(compare.verdict(parent, [50.0] * 6, self.LOWER),
                         "ok")
        self.assertEqual(compare.verdict(parent, [150.0] * 6, self.HIGHER),
                         "ok")


class WorkRate(unittest.TestCase):
    def test_median_of_round_rates(self):
        samples = [{"op": "w", "round": r, "ok": True, "work": True,
                    "lat": False, "items": 100, "ms": ms}
                   for r, ms in enumerate((1000.0, 500.0, 4000.0))]
        res = {"samples": samples, "maintenance": [], "setup_s": 1.0}
        metrics, _, _ = run.end_to_end(res, {})
        self.assertEqual(metrics["work_per_s"], 100.0)


class PlantedWrongOutput(unittest.TestCase):
    """A wrong output must fail its oracle check and raise fail_frac."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        os.makedirs(os.path.join(d, "data"))
        pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]}).to_parquet(
            os.path.join(d, "data", "t.parquet"))
        self.sql = "SELECT k, v * 2 AS w FROM t"
        for name, w in (("good", [20, 40, 60]), ("bad", [20, 40, 61])):
            os.makedirs(os.path.join(d, name))
            pd.DataFrame({"w": w, "k": [1, 2, 3]}).to_parquet(
                os.path.join(d, name, "part-0.parquet"))
        self.con = oracle.connect(os.path.join(d, "data"))

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def test_right_output_passes(self):
        self.assertIsNone(oracle.compare(
            self.con, os.path.join(self.tmp.name, "good"), self.sql))

    def test_wrong_value_fails(self):
        why = oracle.compare(self.con, os.path.join(self.tmp.name, "bad"),
                             self.sql)
        self.assertIn("mismatch", why)

    def test_row_count_rule_without_oracle(self):
        good = os.path.join(self.tmp.name, "good")
        self.assertIsNone(oracle.compare(self.con, good, None, rows=3))
        self.assertIsNotNone(oracle.compare(self.con, good, None, rows=4))

    def test_failed_check_raises_fail_frac(self):
        samples = [{"op": op, "round": i // 2, "ok": True, "work": True,
                    "lat": True, "items": 10, "ms": 100.0}
                   for i, op in enumerate(("a", "b", "a", "b"))]
        res = {"samples": samples, "maintenance": [], "setup_s": 1.0}
        ok, attempted, failed = run.end_to_end(res, {})
        self.assertEqual((ok["ok_frac"], attempted, failed), (1.0, 4, 0))
        why = oracle.compare(self.con, os.path.join(self.tmp.name, "bad"),
                             self.sql)
        bad, attempted, failed = run.end_to_end(res, {"a": why})
        self.assertEqual((bad["ok_frac"], attempted, failed), (0.5, 4, 2))


if __name__ == "__main__":
    unittest.main()
