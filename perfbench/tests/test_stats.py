"""Self-tests of the benchmark's percentile and interval-union code.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])

    def test_union_drops_empty_intervals(self):
        self.assertEqual(stats.union([(2, 2), (3, 1)]), [])

    def test_union_nested(self):
        self.assertEqual(stats.union([(0, 10), (2, 3), (4, 12)]), [(0, 12)])

    def test_uncovered_counts_gaps_between_jobs(self):
        # a 10 s span with jobs at [1, 3] and [2, 5] and [8, 9]: gaps 1+3+1
        self.assertEqual(stats.uncovered((0, 10), [(1, 3), (2, 5), (8, 9)]), 5)

    def test_uncovered_clips_jobs_to_the_window(self):
        self.assertEqual(stats.uncovered((2, 6), [(0, 3), (5, 9)]), 2)

    def test_uncovered_without_jobs_is_the_window(self):
        self.assertEqual(stats.uncovered((1.5, 4.0), []), 2.5)

    def test_uncovered_ignores_jobs_outside(self):
        self.assertEqual(stats.uncovered((2, 4), [(0, 1), (5, 6)]), 2)


class PercentileTest(unittest.TestCase):
    def test_percentile_endpoints_and_interpolation(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 4)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_percentile_needs_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(99))))
        p, v = stats.tail_percentile(list(range(100)))
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, 89.1)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99.0)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.2]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_spread_of_one_sample_is_zero(self):
        self.assertEqual(stats.spread([3.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
