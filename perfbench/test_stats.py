"""Self-tests for the benchmark's arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_spread_uses_exclusive_quartiles(self):
        # statistics.quantiles' default method: on 1..9 the quartiles are
        # 2.5 and 7.5 around a median of 5
        self.assertAlmostEqual(stats.spread(range(1, 10)), (7.5 - 2.5) / 5)
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4]), (3.75 - 1.25) / 2.5)
        self.assertEqual(stats.spread([7.0] * 10), 0.0)

    def test_supported_percentile_needs_ten_beyond(self):
        self.assertIsNone(stats.supported_percentile(4))
        self.assertIsNone(stats.supported_percentile(99))
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(200), 95)
        self.assertEqual(stats.supported_percentile(1000), 99)
        self.assertEqual(stats.supported_percentile(10000), 99.9)

    def test_fail_ratio(self):
        self.assertEqual(stats.fail_ratio(0, 7), 0.0)
        self.assertEqual(stats.fail_ratio(2, 8), 0.25)
        with self.assertRaises(ZeroDivisionError):
            stats.fail_ratio(0, 0)

    def test_busy_share(self):
        # 6 executor-seconds in 2 s of wall time on 4 cores
        self.assertAlmostEqual(stats.busy_share(6.0, 2.0, 4), 0.75)
        self.assertTrue(math.isclose(stats.busy_share(0.0, 1.0, 4), 0.0))


if __name__ == "__main__":
    unittest.main()
