"""Unit tests for the benchmark's statistics helpers and metric names.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_count(self):
        self.assertEqual(stats.median([3, 1, 2]), 2.0)

    def test_even_count_averages_the_middle_pair(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_single_value(self):
        self.assertEqual(stats.median([7.5]), 7.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailRuleTest(unittest.TestCase):
    def test_too_few_samples_for_any_rung(self):
        self.assertIsNone(stats.tail_percentile(19))

    def test_p50_needs_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.beyond(20, 50.0), 10)

    def test_highest_rung_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_every_chosen_rung_leaves_ten_beyond(self):
        for n in range(20, 3000, 7):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(stats.beyond(n, p), 10)

    def test_tail_value_and_fallback(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(xs), (90.0, 90.0))
        self.assertEqual(stats.tail([5, 1, 3]), (50.0, 3.0))


class SlopeTest(unittest.TestCase):
    def test_exact_line(self):
        self.assertAlmostEqual(stats.slope([10 + 2.5 * i for i in range(8)]), 2.5)

    def test_flat_and_short(self):
        self.assertEqual(stats.slope([4, 4, 4, 4]), 0.0)
        self.assertEqual(stats.slope([9]), 0.0)

    def test_noise_is_averaged(self):
        ys = [0, 2, 0, 2, 0, 2]
        self.assertAlmostEqual(stats.slope(ys), 6 / 35)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once_and_clip(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(stats.union_ms([(0, 10), (5, 20)], 8, 12), 4)
        self.assertEqual(stats.union_ms([], 0, 10), 0)


class LayerTest(unittest.TestCase):
    def test_call_site_attribution(self):
        self.assertEqual(metrics.layer_of("localCheckpoint at Dedup.scala:109"), "dedup")
        self.assertEqual(metrics.layer_of("parquet at IceLite.scala:552"), "icelite")
        self.assertEqual(metrics.layer_of("run at ThreadPoolExecutor.java:1136"), "spark")
        self.assertEqual(metrics.layer_of(""), "spark")

    def test_benchmark_actions_belong_to_the_op_kind(self):
        self.assertEqual(metrics.layer_of("collect at TableServe.scala:76", "point"), "icelite")
        self.assertEqual(metrics.layer_of("sql at TableServe.scala:140", "update"), "sqlmerge")
        self.assertEqual(metrics.layer_of("collect at TableServe.scala:76", "replay"), "other")


class KindMedianTest(unittest.TestCase):
    def test_geometric_mean_of_kind_medians(self):
        def op(kind, ms):
            return {"kind": kind, "t0": 0.0, "t1": ms}
        ops = [op("point", 100), op("point", 300), op("point", 200), op("merge", 800)]
        # medians 200 and 800; the point count does not weigh
        self.assertAlmostEqual(metrics.kind_p50_ms(ops), 400.0)
        self.assertAlmostEqual(metrics.kind_p50_ms(ops + [op("point", 150)] * 4), 800 ** 0.5 * 150 ** 0.5)


class NameTest(unittest.TestCase):
    def test_pattern(self):
        for ok in ("setup_s", "op_p50_ms", "layer.icelite_pct", "a-b.c_9", "9lives"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "has space", "x/y", "é", "a" * 65, None):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_matches_the_metrics(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(layer, metrics.per_layer_units())
        names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)


if __name__ == "__main__":
    unittest.main()
