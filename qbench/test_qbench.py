#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 qbench/test_qbench.py

Builds the benchmark if needed, runs the Scala self-test (qbench.SelfTest:
summary arithmetic, per-layer figures on fixed spans, metric names against
BENCHMARK.json, seeded generators), and checks the launcher's result line
and its refusal to run without the library sources.
"""

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class ResultLineTest(unittest.TestCase):
    spec = {"end_to_end": [{"name": "a_s", "unit": "s"},
                           {"name": "b", "unit": "count"}],
            "per_layer": [{"name": "c", "unit": "bytes"}]}

    def test_every_metric_carries_its_unit(self):
        line = run.result_line({"attempted": 3, "failed": 0,
                                "metrics": {"a_s": 1.5, "b": 2}},
                               self.spec, trace=False)
        self.assertEqual(line, {
            "correct": True, "attempted": 3, "failed": 0,
            "metrics": {"a_s": {"value": 1.5, "unit": "s"},
                        "b": {"value": 2, "unit": "count"}}})

    def test_failed_ops_make_the_run_incorrect(self):
        line = run.result_line({"attempted": 3, "failed": 1,
                                "metrics": {"c": 0.0}}, self.spec, trace=True)
        self.assertFalse(line["correct"])

    def test_missing_or_unlisted_metrics_are_refused(self):
        for metrics in ({"a_s": 1.0}, {"a_s": 1.0, "b": 2, "z": 3}):
            with self.assertRaises(run.BenchError):
                run.result_line({"attempted": 1, "failed": 0,
                                 "metrics": metrics}, self.spec, trace=False)


class ScalaSelfTest(unittest.TestCase):
    def test_self_test_passes(self):
        classes = run.build()
        done = subprocess.run(
            ["java", "-Xmx1g", "-Dlog4j2.configurationFile="
             f"{run.BENCH / 'log4j2.properties'}"]
            + [a for p in run.ADD_OPENS
               for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", ":".join([str(classes),
                                str(run.ROOT / "src" / "main" / "resources"),
                                str(run.SPARK_JARS / "*")]),
               "qbench.SelfTest", str(run.ROOT / "BENCHMARK.json")],
            capture_output=True, text=True, timeout=600)
        print(done.stdout)
        self.assertEqual(done.returncode, 0, done.stdout + done.stderr)


class PartialCheckoutTest(unittest.TestCase):
    def test_refuses_without_library_sources(self):
        run.BUILD.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
            shutil.copy(run.ROOT / "BENCHMARK.json", d)
            shutil.copytree(run.BENCH, Path(d) / "qbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            done = subprocess.run(
                [sys.executable, "qbench/run.py", "--workload", "lazy_query",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(done.returncode, 0)
        self.assertEqual(done.stdout, "")


if __name__ == "__main__":
    unittest.main()
