"""Tests for the percentile, quartile and verdict math of compare.py.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, med, q3 = compare.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(med, statistics.median(xs))

    def test_known_values(self):
        # exclusive method: positions (n+1)p -> 1.25, 2.5, 3.75 of 1..4
        self.assertEqual(compare.quartiles([1, 2, 3, 4]), (1.25, 2.5, 3.75))

    def test_single_value(self):
        self.assertEqual(compare.quartiles([7.0]), (7.0, 7.0, 7.0))
        self.assertEqual(compare.spread([7.0]), 0.0)

    def test_constant_and_zero_metrics(self):
        self.assertEqual(compare.spread([0.0, 0.0, 0.0]), 0.0)
        self.assertEqual(compare.verdict([0.0, 0.0], [0.0, 0.0], 0.1), (0.0, "within"))
        change, v = compare.verdict([0.0, 0.0], [1.0, 1.0], 0.1)
        self.assertEqual((change, v), (float("inf"), "worse"))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            compare.quartiles([])

    def test_spread_is_iqr_over_median(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(compare.spread(xs), (q3 - q1) / med)


class PercentileTest(unittest.TestCase):
    def test_needs_ten_beyond(self):
        xs = list(range(1, 20))  # 19 samples: p50 rank 10, 9 beyond
        self.assertIsNone(compare.percentile(xs, 50))
        xs = list(range(1, 21))  # 20 samples: p50 rank 10, 10 beyond
        self.assertEqual(compare.percentile(xs, 50), 10)

    def test_p90_needs_a_hundred(self):
        self.assertIsNone(compare.percentile(list(range(99)), 90))
        xs = list(range(1, 101))
        self.assertEqual(compare.percentile(xs, 90), 90)

    def test_nearest_rank_ignores_order(self):
        xs = [5, 1, 4, 2, 3] * 6  # 30 samples, 6 of each value
        self.assertEqual(compare.percentile(xs, 50), 3)
        self.assertEqual(compare.percentile(xs, 50, beyond=0),
                         compare.percentile(sorted(xs), 50, beyond=0))

    def test_empty(self):
        self.assertIsNone(compare.percentile([], 50))


class VerdictTest(unittest.TestCase):
    base = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]

    def test_within(self):
        change, v = compare.verdict(self.base, [x * 1.02 for x in self.base], 0.1)
        self.assertAlmostEqual(change, 0.02)
        self.assertEqual(v, "within")

    def test_worse(self):
        _, v = compare.verdict(self.base, [x * 1.2 for x in self.base], 0.1)
        self.assertEqual(v, "worse")

    def test_higher_is_better_flips_sign(self):
        change, v = compare.verdict(self.base, [x * 0.8 for x in self.base], 0.1,
                                    better="higher")
        self.assertAlmostEqual(change, 0.2)
        self.assertEqual(v, "worse")

    def test_better_beyond_base_spread(self):
        _, v = compare.verdict(self.base, [x * 0.9 for x in self.base], 0.1)
        self.assertEqual(v, "better")

    def test_unresolved_when_noisy(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        _, v = compare.verdict(noisy, [x * 1.05 for x in noisy], 0.1)
        self.assertEqual(v, "unresolved")

    def test_noisy_but_every_run_better_resolves(self):
        noisy = [10.0, 14.0, 11.0, 13.0]
        _, v = compare.verdict(noisy, [5.0, 6.0, 5.5, 6.5], 0.1)
        self.assertEqual(v, "better")


class ConditionsTest(unittest.TestCase):
    def rec(self, **kw):
        r = {"workload": "w", "cores": 4, "nproc": 4, "engine_conf": {"a": "1"},
             "env_overrides": {}, "run_seconds": 5, "spark_version": "4",
             "data": "/d", "trace": 0, "seed": 1}
        r.update(kw)
        return r

    def test_same_conditions_pass(self):
        self.assertEqual(compare.check_conditions([self.rec()], [self.rec(seed=2)], False), [])

    def test_differing_override_refused(self):
        errs = compare.check_conditions(
            [self.rec()], [self.rec(env_overrides={"GRAFT_CACHED_PLAN_AQE": "false"})], False)
        self.assertTrue(errs and "env_overrides" in errs[0])

    def test_overhead_needs_traced_b(self):
        self.assertEqual(compare.check_conditions([self.rec()], [self.rec(trace=1)], True), [])
        self.assertTrue(compare.check_conditions([self.rec()], [self.rec()], True))
        self.assertTrue(compare.check_conditions([self.rec()], [self.rec(trace=1)], False))


class DigestTest(unittest.TestCase):
    def test_runs_of_a_seed_must_agree(self):
        recs = [{"seed": 1, "digests": {"x": "a"}}, {"seed": 1, "digests": {"x": "b"}},
                {"seed": 2, "digests": {"x": "b"}}]
        self.assertEqual(compare.digest_mismatches(recs),
                         ["seed 1: output digests differ between runs"])
        self.assertEqual(compare.digest_mismatches(recs[1:]), [])

    def test_changed_outputs_between_sides(self):
        a = [{"seed": 1, "digests": {"x": "a"}}, {"seed": 2, "digests": {"x": "b"}}]
        b = [{"seed": 1, "digests": {"x": "a"}}, {"seed": 2, "digests": {"x": "c"}},
             {"seed": 3, "digests": {"x": "d"}}]
        self.assertEqual(compare.changed_outputs(a, b), [2])


if __name__ == "__main__":
    unittest.main()
