#!/usr/bin/env python3
"""Smoke test for the benchmark itself.

    python3 perfbench/test_smoke.py

Runs every workload at a token size, untraced and traced, and asserts that
each run emits exactly the metrics BENCHMARK.json names, with their units,
with no failed operation and a passing correctness check. Also asserts the
benchmark refuses to run from a directory that holds only BENCHMARK.json
and this directory (no engine sources).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(cwd, workload, trace, tiny=True):
    args = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
            "--seconds", "1", "--trace", str(trace)] + (["--tiny"] if tiny else [])
    return subprocess.run(args, cwd=cwd, capture_output=True, text=True, timeout=900)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        out = run(ROOT, workload, trace)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], out.stdout)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0, out.stdout)
        want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_battery(self):
        self.check("battery", 0)
        self.check("battery", 1)

    def test_app(self):
        self.check("app", 0)
        self.check("app", 1)

    def test_feed(self):
        self.check("feed", 0)
        self.check("feed", 1)

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
        try:
            out = run(bare, "app", 0, tiny=False)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"metrics"', out.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
