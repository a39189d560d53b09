"""Every metric named in BENCHMARK.json is printed with its unit, and no other."""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    DEFINITION = json.load(f)


def fake_result(layers=None):
    return {"setup_s": 9.5, "pass_wall_s": [4.0, 5.0, 3.0], "retained_heap_mb": 80.0, "cores": 4,
            "passes": 3, "times": {"a": [1.0, 2.0, 3.0], "b": [4.0, 4.0, 4.0]},
            "failures": [], "spans": [], "layers": layers or {}}


class EndToEndTest(unittest.TestCase):
    def test_prints_exactly_the_defined_metrics_with_units(self):
        units = run.defined_units("end_to_end")
        block = run.metric_block(run.end_to_end(fake_result(), set(), 8), units)
        self.assertEqual(set(block), {m["name"] for m in DEFINITION["end_to_end"]})
        for m in DEFINITION["end_to_end"]:
            self.assertEqual(block[m["name"]]["unit"], m["unit"])
        self.assertAlmostEqual(block["query_geomean_s"]["value"], (2.0 * 4.0) ** 0.5)
        self.assertEqual(block["success_frac"]["value"], 1.0)
        self.assertEqual(block["wall_s"]["value"], 4.0)  # median pass

    def test_failures_lower_success_frac(self):
        failed = run.failed_executions(
            dict(fake_result(), failures=[{"pass": 1, "query": "a"}]), {"b": "rows"})
        self.assertEqual(len(failed), 1 + 4)
        self.assertAlmostEqual(run.end_to_end(fake_result(), failed, 8)["success_frac"],
                               1 - 5 / 8)

    def test_missing_or_unnamed_metric_is_refused(self):
        units = {"a": "s", "b": "s"}
        with self.assertRaises(ValueError):
            run.metric_block({"a": 1.0}, units)
        with self.assertRaises(ValueError):
            run.metric_block({"a": 1.0, "b": 2.0, "c": 3.0}, units)


class PerLayerTest(unittest.TestCase):
    def harness_layer_names(self):
        """Metric keys the JVM harness writes into its layers map."""
        path = os.path.join(HERE, "src", "main", "scala", "perfbench", "Harness.scala")
        with open(path) as f:
            src = f.read()
        return set(re.findall(r'^\s*"([a-z_]+\.[a-z_.]+)" ->', src, re.M))

    def test_harness_and_driver_emit_exactly_the_defined_metrics(self):
        names = self.harness_layer_names() | {"executor.core_util", "trace.overhead_frac"}
        self.assertEqual(names, {m["name"] for m in DEFINITION["per_layer"]})

    def test_per_layer_block_has_units_and_derived_metrics(self):
        layers = {n: 1.0 for n in self.harness_layer_names()}
        traced = dict(fake_result(layers), work_by_span={},
                      per_pass=[{"jobs": 5, "stages": 6, "tasks": 7}])
        untraced = dict(fake_result(), pass_wall_s=[3.0, 4.0, 3.0])
        block = run.metric_block(run.per_layer(traced, untraced),
                                 run.defined_units("per_layer"))
        self.assertAlmostEqual(block["trace.overhead_frac"]["value"], 0.2)
        self.assertAlmostEqual(block["executor.core_util"]["value"], 1.0 / (4.0 * 4))
        for m in DEFINITION["per_layer"]:
            self.assertEqual(block[m["name"]]["unit"], m["unit"])


if __name__ == "__main__":
    unittest.main()
