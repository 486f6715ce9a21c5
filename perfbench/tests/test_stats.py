"""Percentile selection, the pair rule and span self times."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 30)  # exactly 10 samples (31..40) above it
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 75.0)
        self.assertEqual(n, 40)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(stats.tail(xs)[0], 2)  # 3..12 lie above it
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNotNone(stats.tail(list(range(11))))


class PairRuleTest(unittest.TestCase):
    def test_gain_needs_nine_tenths_and_spread(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [p - 1.0 for p in parent]
        self.assertEqual(stats.pair_verdict(parent, change, "lower", 0.1)[0], "gain")

    def test_eight_of_ten_is_no_gain(self):
        parent = [10.0] * 10
        change = [9.0] * 8 + [11.0] * 2
        verdict, d = stats.pair_verdict(parent, change, "lower", 0.25)
        self.assertEqual(d["change_wins"], 8)
        self.assertNotEqual(verdict, "gain")

    def test_ties_count_for_neither(self):
        verdict, d = stats.pair_verdict([1.0] * 10, [1.0] * 10, "lower", 0.1)
        self.assertEqual((verdict, d["change_wins"]), ("same", 0))

    def test_regression_beyond_bound(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        change = [p * 1.3 for p in parent]
        self.assertEqual(stats.pair_verdict(parent, change, "lower", 0.1)[0], "regression")

    def test_higher_is_better(self):
        parent = [100.0 + i * 0.1 for i in range(10)]
        change = [p * 1.5 for p in parent]
        self.assertEqual(stats.pair_verdict(parent, change, "higher", 0.1)[0], "gain")
        self.assertEqual(stats.pair_verdict(change, parent, "higher", 0.1)[0], "regression")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 15.0, 10.0, 6.0, 14.0, 9.0, 11.0, 5.5, 14.5, 10.0]
        change = [p * 1.05 for p in reversed(parent)]
        self.assertEqual(stats.pair_verdict(parent, change, "lower", 0.1)[0], "unresolved")


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_ms([]), 0)

    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (15, 30), (90, 120)]), 70)


if __name__ == "__main__":
    unittest.main()
