"""The benchmark's own tests (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import diff  # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p95_refused_below_200_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(199)), 95)

    def test_p95_reported_from_200_samples(self):
        xs = list(range(1, 201))
        self.assertEqual(metrics.percentile(xs, 95), 190)  # 10 samples lie beyond it

    def test_p50_needs_only_one_sample(self):
        self.assertEqual(metrics.percentile([7.0], 50), 7.0)

    def test_detail_omits_percentiles_without_samples_behind_them(self):
        result = {"ops": [{"kind": "get", "ms": float(i), "ok": True} for i in range(150)]}
        d = metrics.detail(result)["get"]
        self.assertEqual(d["n"], 150)
        self.assertIn("p90_ms", d)
        self.assertNotIn("p95_ms", d)


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, t0, t1):
        return {"id": id_, "parent": parent, "t0": t0, "t1": t1}

    def test_self_time_is_span_minus_union_of_children(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),  # overlap: 40 covered
                 self.span(4, 1, 90, 120),                          # clipped to 10
                 self.span(5, 2, 12, 18)]                           # grandchild: not 1's child
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 14)
        self.assertEqual(st[5], 6)

    def test_covered_merges_touching_intervals(self):
        self.assertEqual(metrics.covered([(0, 5), (5, 9), (20, 21)]), 10)


class CallSiteModule(unittest.TestCase):
    modules = metrics.module_map(os.path.join(ROOT, "src", "main", "scala"))

    def test_program_files_map_to_their_module(self):
        of = lambda cs: metrics.module_of(cs, self.modules, "exec")
        self.assertEqual(of("count at FreshReader.scala:147"), "engine")
        self.assertEqual(of("localCheckpoint at TxStore.scala:363"), "sources")
        self.assertEqual(of("collect at Dedup.scala:284"), "llmops")
        self.assertEqual(of("start at StreamingFreshen.scala:80"), "streaming")

    def test_other_call_sites_fall_back_to_the_calling_span(self):
        self.assertEqual(metrics.module_of("collect at Main.scala:150", self.modules, "exec"), "exec")
        self.assertEqual(metrics.module_of("run at ThreadPoolExecutor.java:1136", self.modules,
                                           "queries"), "queries")
        self.assertEqual(metrics.module_of("", self.modules, "exec"), "exec")

    def test_a_file_name_in_two_modules_maps_to_both(self):
        self.assertEqual(self.modules["Analytics.scala"], "operators|queries")


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_end_to_end_names_and_units_match_benchmark_json(self):
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(declared, metrics.END_TO_END)

    def test_per_layer_names_and_units_match_benchmark_json(self):
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(declared, metrics.PER_LAYER)

    def test_every_workload_has_its_operations(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], metrics.OPS)

    def test_layer_map_names_only_printed_metrics(self):
        with open(os.path.join(HERE, "layers.json")) as fh:
            layers = json.load(fh)
        for row in layers["layer_map"]:
            self.assertIn(row["layer_metric"], metrics.PER_LAYER)
            for m in row["moves"]:
                self.assertIn(m, metrics.END_TO_END)
        for w, band in layers["noise_band"].items():
            self.assertIn(w, metrics.OPS)
            self.assertLessEqual(set(band), set(metrics.PER_LAYER))


class Differ(unittest.TestCase):
    def test_flags_only_moves_outside_the_band(self):
        base = {"exec.jobs": 10.0, "engine.call_ms": 100.0, "jvm.gc_s": 0.5}
        new = {"exec.jobs": 12.0, "engine.call_ms": 104.0, "jvm.gc_s": 0.5}
        moved = diff.compare(base, new, {"engine.call_ms": 0.05})
        self.assertEqual([m[0] for m in moved], ["exec.jobs"])

    def test_band_is_symmetric_relative_difference(self):
        self.assertAlmostEqual(diff.band({"a": 100.0}, {"a": 80.0})["a"], 0.2)
        self.assertEqual(diff.band({"a": 0.0}, {"a": 0.0})["a"], 0.0)

    def test_overhead_pairs_traced_copies(self):
        self.assertAlmostEqual(diff.overhead({"op_p50_ms": 100.0}, {"traced.op_p50_ms": 110.0})["op_p50_ms"],
                               10 / 110)


if __name__ == "__main__":
    unittest.main()
