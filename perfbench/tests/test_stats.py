import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from stats import iqr_share, mean_active, median, self_time, tail, union_length  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_even_and_empty(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(median([]))


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 21))  # 20 samples: the 10th smallest has 10 beyond
        value, pct, beyond, n = tail(xs)
        self.assertEqual((value, beyond, n), (10, 10, 20))
        self.assertEqual(pct, 50.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_hundred_samples_is_p90(self):
        value, pct, beyond, n = tail(range(100, 0, -1))
        self.assertEqual((value, pct, beyond, n), (90, 90.0, 10, 100))

    def test_eleven_samples_is_the_smallest_supported(self):
        value, pct, beyond, n = tail([5.0] * 10 + [1.0])
        self.assertEqual((value, beyond, n), (1.0, 10, 11))

    def test_too_few_samples_reports_max_with_none_beyond(self):
        self.assertEqual(tail([3, 9, 4]), (9, 100.0, 0, 3))
        self.assertEqual(tail([]), (None, None, 0, 0))

    def test_sample_count_is_reported(self):
        self.assertEqual(tail([0.5] * 37)[3], 37)


class SpreadTest(unittest.TestCase):
    def test_iqr_share_matches_statistics_quantiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(iqr_share(xs), (q3 - q1) / q2)

    def test_single_value_has_no_spread(self):
        self.assertEqual(iqr_share([4.2]), 0.0)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(self_time(10, 20, [(8, 12), (11, 14), (18, 25)]), 4)
        self.assertEqual(self_time(0, 5, []), 5)

    def test_mean_active(self):
        self.assertEqual(mean_active(0, 10, [(0, 10), (0, 5), (20, 30)]), 1.5)
        self.assertEqual(mean_active(3, 3, [(0, 10)]), 0.0)


if __name__ == "__main__":
    unittest.main()
