#!/usr/bin/env python3
"""Unit tests of tools/ab.py's per-metric verdict on fixed numbers.

    python3 tools/test_ab.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab import verdict  # noqa: E402

BASE = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.00, 1.01]


class VerdictTest(unittest.TestCase):
    def test_gain_needs_nine_of_ten_wins_and_more_than_the_iqr(self):
        self.assertEqual(verdict(BASE, [x * 0.8 for x in BASE], True, 0.25), "gain")
        # 8 of 10 wins is not a gain, however large the medians' distance
        eight = [x * 0.8 for x in BASE[:8]] + [x * 1.1 for x in BASE[8:]]
        self.assertEqual(verdict(BASE, eight, True, 0.25), "within bound")
        # every pair won by less than the base's IQR (0.02) is not a gain
        self.assertEqual(verdict(BASE, [x - 0.005 for x in BASE], True, 0.25), "within bound")

    def test_direction_follows_better(self):
        self.assertEqual(verdict(BASE, [x * 1.2 for x in BASE], False, 0.25), "gain")
        self.assertEqual(verdict(BASE, [x * 1.2 for x in BASE], True, 0.1), "worse")

    def test_worse_by_more_than_the_bound(self):
        self.assertEqual(verdict(BASE, [x * 1.3 for x in BASE], True, 0.25), "worse")
        self.assertEqual(verdict(BASE, [x * 1.2 for x in BASE], True, 0.25), "within bound")

    def test_unresolved_when_the_base_spreads_past_the_bound(self):
        wide = [0.5, 1.5, 0.6, 1.4, 1.0, 0.7, 1.3, 0.8, 1.2, 1.0]
        self.assertEqual(verdict(wide, [x * 1.05 for x in wide], True, 0.25), "unresolved")

    def test_a_metric_without_a_bound(self):
        self.assertEqual(verdict(BASE, [x * 1.5 for x in BASE], True, None), "no bound")
        self.assertEqual(verdict(BASE, [x * 0.5 for x in BASE], True, None), "gain")

    def test_zero_base_median(self):
        zeros = [0.0] * 10
        self.assertEqual(verdict(zeros, zeros, True, 0.1), "within bound")
        self.assertEqual(verdict(zeros, [1.0] * 10, True, 0.1), "worse")


if __name__ == "__main__":
    unittest.main()
