"""Self-tests for perfbench's metric arithmetic on synthetic samples.

Run: python3 perfbench/test_metrics.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(beyond, 10)
        self.assertEqual(pct, 60.0)
        self.assertEqual(value, sorted(xs)[14])

    def test_eleven_samples(self):
        value, pct, beyond = metrics.tail([float(i) for i in range(11)])
        self.assertEqual((value, beyond), (0.0, 10))

    def test_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))


class UnionTest(unittest.TestCase):
    def test_overlap_and_gap(self):
        self.assertEqual(metrics.interval_union([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.interval_union([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clip(self):
        self.assertEqual(metrics.interval_union([(0, 10), (20, 30)], 5, 25), 10)

    def test_no_task_time(self):
        # 100 ms op; tasks cover [10,40) and [30,60) -> 50 ms busy
        self.assertEqual(metrics.no_task_time((0, 100), [(10, 40), (30, 60)]), 50)
        # tasks spilling outside the window are clipped
        self.assertEqual(metrics.no_task_time((0, 100), [(-50, 20), (90, 150)]), 70)
        self.assertEqual(metrics.no_task_time((0, 100), []), 100)


class FailedRatioTest(unittest.TestCase):
    def test_wrong_output_counts(self):
        # an op that threw and an op with a wrong output both report
        # ok = False
        self.assertEqual(metrics.failed_ratio([True, False, True, False]), 0.5)

    def test_all_ok(self):
        self.assertEqual(metrics.failed_ratio([True] * 7), 0.0)

    def test_none_attempted(self):
        with self.assertRaises(ValueError):
            metrics.failed_ratio([])


class GrowthTest(unittest.TestCase):
    def test_growth(self):
        self.assertEqual(metrics.growth([2.0, 9.0, 3.0, 4.0]), 2.0)
        self.assertEqual(metrics.growth([1.0]), 1.0)


if __name__ == "__main__":
    unittest.main()
