"""Self-tests of the workload benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The attribution test builds the program on first use and runs each workload
once, traced, on tiny inputs (a tenth of the benchmark's table sizes,
lineitem ~6 k rows as at sf0.001); it takes a few minutes.
"""
import json
import os
import re
import statistics
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench_spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class MetricNames(unittest.TestCase):
    def test_names_and_units_are_valid_and_unique(self):
        spec = bench_spec()
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_spec_matches_what_the_runner_reports(self):
        spec = bench_spec()
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.per_layer_names())
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        for m in spec["end_to_end"]:
            self.assertEqual(m["unit"], run.END_TO_END[m["name"]])
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond_the_percentile(self):
        self.assertTrue(run.supported(100, 0.9))
        self.assertFalse(run.supported(99, 0.9))
        self.assertTrue(run.supported(20, 0.5))
        self.assertFalse(run.supported(19, 0.5))
        self.assertFalse(run.supported(12, 0.9))

    def test_percentile_interpolates_like_the_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertAlmostEqual(run.percentile(xs, 0.5), statistics.median(xs))
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(run.percentile(xs, 0.25), q[0])
        self.assertAlmostEqual(run.percentile(xs, 0.75), q[2])


class LayerAttribution(unittest.TestCase):
    def run_traced(self, workload):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
             "--seconds", "1", "--trace", "1", "--scale", "0.1"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        out = os.path.join(run.BUILD, "runs", f"{workload}-seed3-trace1")
        with open(os.path.join(out, "spans.json")) as fh:
            spans = json.load(fh)
        return result, spans

    def test_every_span_has_a_layer_and_unattributed_jobs_are_reported(self):
        for workload in sorted(run.WORKLOADS):
            with self.subTest(workload=workload):
                result, spans = self.run_traced(workload)
                self.assertTrue(result["correct"], result)
                self.assertEqual(sorted(result["metrics"]), sorted(run.per_layer_names()))
                self.assertIn("unattributed.jobs", result["metrics"])
                self.assertTrue(spans)
                roots = {(s["run_id"], s["id"]) for s in spans if s["layer"] == "iteration"}
                for s in spans:
                    self.assertIn(s["layer"], run.LAYERS + ["iteration"])
                    if s["layer"] != "iteration":
                        self.assertIn((s["run_id"], s["parent"]), roots)
                # every layer the workload calls shows up with its spans' time
                layers = {s["layer"] for s in spans} - {"iteration"}
                for layer in layers:
                    self.assertGreater(result["metrics"][f"{layer}.self_s"]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
