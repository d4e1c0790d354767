#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest perfbench/test_bench.py      # from the repo root

The smoke test builds the engine if needed and runs every workload once
at sf0.001 (a few minutes).
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


class BenchmarkSpecTest(unittest.TestCase):
    def test_metric_tables_match_benchmark_json(self):
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(run.load_workloads()))

    def test_every_query_has_expected_outputs(self):
        for name, spec in run.load_workloads().items():
            for sf in (spec["sf"], run.SMOKE_SF):
                expected = json.loads((HERE / "expected" / f"{sf}.json").read_text())
                for q in spec["queries"]:
                    self.assertIn(q, expected, f"{name}: {q} at {sf}")


class SmokeTest(unittest.TestCase):
    def test_smoke_emits_every_metric_and_checks_outputs(self):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--smoke"], cwd=ROOT,
                           capture_output=True, text=True, timeout=1800)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        summary = json.loads(p.stdout.strip().splitlines()[-1])
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(sorted(summary), sorted(w["name"] for w in SPEC["workloads"]))
        for workload, result in summary.items():
            self.assertTrue(result["correct"], workload)
            self.assertEqual(result["failed"], 0, workload)
            self.assertEqual(sorted(result["metrics"]), sorted(names), workload)
            for n in names:
                self.assertIn(n + " ", p.stdout, f"{n} not printed by name")

    def test_fails_without_the_engine(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        benchmark exits non-zero and prints no result."""
        iso = HERE / "work" / "isolated"
        shutil.rmtree(iso, ignore_errors=True)
        shutil.copytree(HERE, iso / "perfbench", ignore=shutil.ignore_patterns(
            "work", "out", "target", "data", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", iso)
        try:
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=iso, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(iso, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
