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


class SummarizeTest(unittest.TestCase):
    end_to_end = [{"name": "op_p50_ms", "better": "lower", "bound": 0.25}]

    @staticmethod
    def batch(seed, pairs, parent_ms, change_ms):
        """The runs `--seed <seed> --pairs <pairs>` logs: pair k has seed + k."""
        return [{"workload": "ingest", "pair": k, "seed": seed + k, "side": side,
                 "exit": 0, "failed": 0, "correct": True,
                 "metrics": {"op_p50_ms": ms}}
                for k in range(pairs)
                for side, ms in (("parent", parent_ms), ("change", change_ms))]

    def test_batches_with_different_seeds_pool_their_pairs(self):
        runs = self.batch(101, 4, 100.0, 90.0) + self.batch(201, 6, 100.0, 110.0)
        out = ab_pairs.summarize(runs, self.end_to_end)
        self.assertIn("ingest: 10 pairs", out)
        self.assertIn("wins 4/10", out)

    def test_summarize_reads_several_logs(self):
        import json
        import subprocess
        import tempfile
        logs = []
        for seed, pairs in ((101, 4), (201, 6)):
            f = tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False)
            f.write("".join(json.dumps(r) + "\n"
                            for r in self.batch(seed, pairs, 100.0, 90.0)))
            f.close()
            logs.append(f.name)
        try:
            tools = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            out = subprocess.run(
                [sys.executable, os.path.join(tools, "ab_pairs.py"),
                 "--change", os.path.dirname(tools), "--summarize"] + logs,
                capture_output=True, text=True, check=True).stdout
        finally:
            for log in logs:
                os.unlink(log)
        self.assertIn("ingest: 10 pairs", out)
        self.assertIn("wins 10/10", out)


if __name__ == "__main__":
    unittest.main()
