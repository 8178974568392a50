"""Tests for the percentile rules in perfbench/stats.py.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 248 samples: p95 leaves 12 above it, p96 only 9
        pct, value, beyond, n = stats.tail(list(range(1, 249)))
        self.assertEqual((pct, value, beyond, n), (95, 236, 12, 248))

    def test_exactly_ten_beyond(self):
        # 44 samples: p77 has rank 34 and leaves exactly 10 above it
        pct, value, beyond, n = stats.tail(list(range(1, 45)))
        self.assertEqual((pct, value, beyond), (77, 34, 10))

    def test_thousand_samples_reach_p99(self):
        pct, value, beyond, _ = stats.tail(list(range(1000)))
        self.assertEqual((pct, value, beyond), (99, 989, 10))

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_the_median(self):
        pct, value, beyond, n = stats.tail([3.0, 1.0, 2.0, 4.0])
        self.assertEqual((pct, value, beyond, n), (50, 2.5, 2, 4))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0])[1], 2.0)

    def test_twenty_samples_give_the_median(self):
        pct, _, beyond, _ = stats.tail(list(range(20)))
        self.assertEqual((pct, beyond), (50, 10))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class Spread(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                         (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               5.5 / 5.5)

    def test_single_value_has_no_spread(self):
        self.assertEqual(stats.spread([4.2]), 0.0)


if __name__ == "__main__":
    unittest.main()
