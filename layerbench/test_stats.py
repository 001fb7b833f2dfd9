#!/usr/bin/env python3
"""Tests for layerbench/stats.py. Run: python3 layerbench/test_stats.py"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_middle_quartile_is_the_median(self):
        self.assertEqual(stats.quartiles([3.0, 1.0, 2.0])[1], 2.0)
        self.assertEqual(stats.quartiles([4.0, 1.0, 3.0, 2.0])[1], 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.0, 1.0, 7.0, 3.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs), statistics.quantiles(xs, n=4))
        self.assertEqual(stats.quartiles(xs), [2.75, 5.5, 8.25])

    def test_single_sample(self):
        self.assertEqual(stats.quartiles([4.0]), [4.0, 4.0, 4.0])
        self.assertEqual(stats.spread([4.0]), 0.0)

    def test_spread_is_iqr_over_median(self):
        xs = [9.0, 1.0, 7.0, 3.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)


class Tail(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 90), (90, 10))
        self.assertEqual(stats.nearest_rank(xs, 50), (50, 50))
        self.assertEqual(stats.nearest_rank([5.0], 99), (5.0, 0))

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 above, p95 only 5
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90, 10))
        # 44 samples (two passes of 22 queries): p75 leaves 11, p90 leaves 5
        self.assertEqual(stats.tail(list(range(1, 45))), (75, 33, 11))
        # 22 samples: only the median leaves ten or more above it
        self.assertEqual(stats.tail(list(range(1, 23))), (50, 11, 11))
        # 1000 samples: p99 leaves 10
        self.assertEqual(stats.tail(list(range(1, 1001)))[:2], (99, 990))

    def test_boundary_nine_beyond_is_not_enough(self):
        # 19 samples: p50 is rank 10, leaving 9 above — no grid point
        # qualifies, so the maximum is reported as percentile 100
        self.assertEqual(stats.tail(list(range(1, 20))), (100, 19, 0))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(1, 45)]
        self.assertEqual(stats.tail(xs[::-1]), stats.tail(xs))


if __name__ == "__main__":
    unittest.main()
