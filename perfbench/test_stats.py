"""Tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        for vs in ([3.0, 1.0, 2.0], [5, 1, 4, 2, 3, 9, 7], [0.5] * 4 + [1.5] * 6):
            self.assertEqual(stats.quartiles(vs), tuple(statistics.quantiles(vs, n=4)))

    def test_single_value_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_summary(self):
        s = stats.summary([1, 2, 3, 4, 5])
        self.assertEqual((s["median"], s["p25"], s["p75"], s["n"]), (3, 1.5, 4.5, 5))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.quartiles([])


class TailRule(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([0, 10], 0.9), 9.0)
        self.assertEqual(stats.percentile(list(range(101)), 0.9), 90.0)

    def test_ten_above_p90_needs_about_a_hundred_samples(self):
        self.assertEqual(stats.tail_count(list(range(100)), 0.9), 10)
        self.assertTrue(stats.tail_ok(list(range(100)), 0.9))
        self.assertTrue(stats.tail_ok(list(range(92)), 0.9))
        self.assertEqual(stats.tail_count(list(range(91)), 0.9), 9)
        self.assertFalse(stats.tail_ok(list(range(91)), 0.9))

    def test_ties_at_the_percentile_are_not_above_it(self):
        self.assertEqual(stats.tail_count([1.0] * 50, 0.9), 0)
        self.assertFalse(stats.tail_ok([1.0] * 50, 0.9, min_tail=1))

    def test_custom_minimum(self):
        self.assertTrue(stats.tail_ok(list(range(20)), 0.9, min_tail=2))
        self.assertFalse(stats.tail_ok([], 0.9))


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)

    def test_self_time_with_overlapping_children(self):
        # parent 0..10; children 1..4 and 3..6 overlap on 3..4
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (3, 6)]), 5)

    def test_self_time_child_outside_parent(self):
        # a child sticking out of its parent only covers the inside part
        self.assertEqual(stats.self_time(0, 10, [(8, 15), (-3, 1)]), 7)

    def test_self_time_no_children(self):
        self.assertEqual(stats.self_time(5, 9, []), 4)

    def test_driver_gap(self):
        # op 0..10 with jobs 1..3, 2..5 (overlapping) and 8..12
        self.assertEqual(stats.driver_gap(0, 10, [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(stats.driver_gap(0, 10, []), 10)


class BusyShare(unittest.TestCase):
    def test_busy_share(self):
        self.assertAlmostEqual(stats.busy_share(10.0, 5.0, 4), 0.5)
        self.assertAlmostEqual(stats.busy_share(20.0, 5.0, 4), 1.0)

    def test_busy_share_degenerate(self):
        self.assertEqual(stats.busy_share(1.0, 0.0, 4), 0.0)
        self.assertEqual(stats.busy_share(1.0, 1.0, 0), 0.0)


if __name__ == "__main__":
    unittest.main()
