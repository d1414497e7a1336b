#!/usr/bin/env python3
"""Tests of tools/ab_perfbench.py's verdict: python3 tools/test_ab_perfbench.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab_perfbench import verdict  # noqa: E402


class VerdictTest(unittest.TestCase):
    parent = [100.0, 101.0, 99.0, 100.0, 102.0, 98.0, 100.0, 101.0, 99.0, 100.0]

    def shifted(self, factor):
        return [v * factor for v in self.parent]

    def test_same_runs_are_within_bound(self):
        self.assertEqual(verdict(self.parent, list(self.parent), "lower", 0.25), "within bound")

    def test_worse_past_the_bound(self):
        self.assertEqual(verdict(self.parent, self.shifted(1.3), "lower", 0.25), "worse")
        self.assertEqual(verdict(self.parent, self.shifted(0.7), "higher", 0.25), "worse")

    def test_worse_inside_the_bound(self):
        self.assertEqual(verdict(self.parent, self.shifted(1.2), "lower", 0.25), "within bound")

    def test_better_needs_nine_tenths_of_the_pairs_and_the_parent_spread(self):
        self.assertEqual(verdict(self.parent, self.shifted(0.9), "lower", 0.25), "better")
        self.assertEqual(verdict(self.parent, self.shifted(1.1), "higher", 0.25), "better")
        # a gain smaller than the parent's interquartile range is noise
        self.assertEqual(verdict(self.parent, self.shifted(0.995), "lower", 0.25),
                         "within bound")
        # wins in 8 of 10 pairs are not enough
        change = self.shifted(0.9)
        change[0], change[1] = 200.0, 200.0
        self.assertEqual(verdict(self.parent, change, "lower", 0.25), "within bound")

    def test_a_parent_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [50.0, 150.0, 60.0, 140.0, 100.0, 70.0, 130.0, 90.0, 110.0, 100.0]
        self.assertEqual(verdict(noisy, list(noisy), "lower", 0.25), "unresolved")
        self.assertEqual(verdict(noisy, [v * 2 for v in noisy], "lower", 0.25), "unresolved")
        # unless every change run beats every parent run
        self.assertEqual(verdict(noisy, [10.0] * 10, "lower", 0.25), "better")


if __name__ == "__main__":
    unittest.main()
