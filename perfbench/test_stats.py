"""Tests of the benchmark's statistics helpers.

Run with: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_matches_statistics_module(self):
        xs = [0.31, 0.12, 0.57, 0.44, 0.29, 0.91, 0.05]
        self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_beyond(self):
        # 19 samples: the median has 9.5 beyond it, too few
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50.0)
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(199)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99.0)

    def test_value_interpolates(self):
        p, v = stats.tail_percentile([float(i) for i in range(101)])
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, 90.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_once(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)

    def test_uncovered_is_driver_gap(self):
        # batch 0..10, jobs cover 1..4 and 3..6 and 9..12 (clipped at 10)
        self.assertEqual(stats.uncovered(0, 10, [(1, 4), (3, 6), (9, 12)]), 4)
        self.assertEqual(stats.uncovered(0, 10, []), 10)
        self.assertEqual(stats.uncovered(0, 10, [(-5, 20)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 5.0},
            {"id": 3, "parent": 1, "start": 4.0, "end": 6.0},
            {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        ]
        got = stats.self_times(spans)
        self.assertEqual(got[1], 5.0)   # children cover 1..6
        self.assertEqual(got[2], 3.0)   # grandchild 4 counts against 2 only
        self.assertEqual(got[3], 2.0)
        self.assertEqual(got[4], 1.0)


if __name__ == "__main__":
    unittest.main()
