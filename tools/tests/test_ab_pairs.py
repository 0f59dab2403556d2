"""Unit tests for the pair arithmetic of tools/ab_pairs.py.

    python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ab_pairs  # noqa: E402


class QuartilesTest(unittest.TestCase):
    def test_nearest_rank_quartiles_and_median(self):
        self.assertEqual(ab_pairs.quartiles([4, 1, 3, 2]), (1.0, 2.5, 3.0))
        self.assertEqual(ab_pairs.quartiles(list(range(1, 11))), (3.0, 5.5, 8.0))


class WinsTest(unittest.TestCase):
    def test_direction_and_ties(self):
        parent, change = [10, 10, 10, 10], [12, 8, 10, 11]
        self.assertEqual(ab_pairs.wins(parent, change, "higher"), 2)
        self.assertEqual(ab_pairs.wins(parent, change, "lower"), 1)


class GainRuleTest(unittest.TestCase):
    parent = [100, 102, 98, 101, 99, 103, 97, 100, 104, 96]

    def test_holds_with_nine_wins_and_gap_above_iqr(self):
        change = [120] * 9 + [90]
        self.assertTrue(ab_pairs.gain_holds(self.parent, change, "higher"))

    def test_fails_with_eight_wins(self):
        change = [120] * 8 + [90, 90]
        self.assertFalse(ab_pairs.gain_holds(self.parent, change, "higher"))

    def test_fails_when_gap_within_parent_iqr(self):
        # every pair won, but the median gap (3) is below the IQR (98..102)
        change = [p + 3 for p in self.parent]
        self.assertEqual(ab_pairs.wins(self.parent, change, "higher"), 10)
        self.assertFalse(ab_pairs.gain_holds(self.parent, change, "higher"))

    def test_lower_is_better(self):
        change = [80] * 10
        self.assertTrue(ab_pairs.gain_holds(self.parent, change, "lower"))
        self.assertFalse(ab_pairs.gain_holds(self.parent, change, "higher"))


class VerdictTest(unittest.TestCase):
    parent = [100, 102, 98, 101, 99]  # IQR/median 0.03

    def test_ok_inside_the_bound(self):
        change = [110, 112, 108, 111, 109]  # 9% worse, bound 25%
        self.assertEqual(ab_pairs.verdict(self.parent, change, "lower", 0.25), "ok")

    def test_worse_beyond_the_bound_in_either_direction(self):
        slower = [130, 131, 129, 130, 128]
        self.assertEqual(ab_pairs.verdict(self.parent, slower, "lower", 0.25), "WORSE")
        fewer = [70, 71, 69, 70, 72]
        self.assertEqual(ab_pairs.verdict(self.parent, fewer, "higher", 0.25), "WORSE")
        # a better change is never WORSE
        self.assertEqual(ab_pairs.verdict(self.parent, fewer, "lower", 0.25), "ok")

    def test_unresolved_when_a_spread_exceeds_the_bound(self):
        wide = [60, 100, 140, 90, 110]  # IQR/median 0.2
        self.assertEqual(ab_pairs.verdict(self.parent, wide, "lower", 0.15), "unresolved")
        self.assertEqual(ab_pairs.verdict(wide, self.parent, "lower", 0.15), "unresolved")
        self.assertEqual(ab_pairs.verdict(self.parent, wide, "lower", 0.25), "ok")

    def test_wide_change_beating_every_parent_run_is_ok(self):
        wide_better = [50, 70, 90, 60, 80]  # IQR/median 0.29, all < 98
        self.assertEqual(ab_pairs.verdict(self.parent, wide_better, "lower", 0.15), "ok")
        self.assertEqual(ab_pairs.verdict(self.parent, wide_better, "higher", 0.15), "WORSE")


if __name__ == "__main__":
    unittest.main()
