"""Tests of the benchmark's own helpers: python3 -m unittest discover qbench"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PassOrderTest(unittest.TestCase):
    QUERIES = [f"q{i:02d}" for i in range(12)]

    def test_same_seed_same_orders(self):
        self.assertEqual(stats.pass_orders(self.QUERIES, 7, "w", 5),
                         stats.pass_orders(self.QUERIES, 7, "w", 5))

    def test_other_seed_other_orders(self):
        self.assertNotEqual(stats.pass_orders(self.QUERIES, 7, "w", 5),
                            stats.pass_orders(self.QUERIES, 8, "w", 5))

    def test_each_pass_is_a_permutation_and_passes_differ(self):
        orders = stats.pass_orders(self.QUERIES, 3, "w", 4)
        for order in orders:
            self.assertEqual(sorted(order), sorted(self.QUERIES))
        self.assertGreater(len({tuple(o) for o in orders}), 1)

    def test_salt_separates_warm_and_measured_orders(self):
        self.assertNotEqual(stats.pass_orders(self.QUERIES, 3, "w:warm", 2),
                            stats.pass_orders(self.QUERIES, 3, "w", 2))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = stats.tail(list(range(1, 41)))
        self.assertEqual((value, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(1 for v in range(1, 41) if v > value), 10)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_highest_percentile_grows_with_sample(self):
        self.assertEqual(stats.tail(list(range(100)))[1], 90.0)
        self.assertEqual(stats.tail(list(range(1000)))[1], 99.0)

    def test_refuses_sample_too_small_to_lie_above_median(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(21)))
        with self.assertRaises(ValueError):
            stats.tail([])

    def test_smallest_supported_sample_is_above_p50(self):
        xs = list(range(22))
        value, pct, _ = stats.tail(xs)
        self.assertGreater(pct, 50.0)
        self.assertGreater(value, statistics.median(xs))


class SpanTest(unittest.TestCase):
    def test_self_time_without_children_is_duration(self):
        self.assertEqual(stats.self_time((10, 30), []), 20)

    def test_overlapping_children_are_counted_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 100), [(-20, 10), (90, 150)]), 80)

    def test_children_outside_the_span_are_ignored(self):
        self.assertEqual(stats.self_time((0, 100), [(100, 120), (-5, 0)]), 100)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(stats.covered((0, 100), [(5, 50), (10, 20), (70, 80)]), 55)


class SpreadTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)


if __name__ == "__main__":
    unittest.main()
