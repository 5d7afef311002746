"""The percentile rule: the highest percentile with at least ten samples above it."""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_exactly_ten_samples_lie_beyond(self):
        xs = [float(x) for x in range(37)]
        value, _, _ = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), stats.TAIL_BEYOND)

    def test_catalog_sized_sample(self):
        value, pct, n = stats.tail(list(range(160)))
        self.assertEqual((value, pct, n), (149, 93.75, 160))

    def test_eleven_samples_use_the_smallest(self):
        value, pct, _ = stats.tail([5, 3, 9, 1, 7, 2, 8, 4, 6, 10, 11])
        self.assertEqual(value, 1)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([4, 1, 3]), (3, 50.0, 3))

    def test_order_does_not_matter(self):
        xs = [(i * 37) % 101 for i in range(101)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


if __name__ == "__main__":
    unittest.main()
