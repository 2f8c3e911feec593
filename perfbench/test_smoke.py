#!/usr/bin/env python3
"""Self-test of the benchmark: every workload, in smoke mode (the sf0.001
tables, one-second runs), prints every metric BENCHMARK.json names, with its
unit, and fails nothing; a copy holding only the benchmark refuses to run.

    python3 perfbench/test_smoke.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, metrics):
        proc = run(workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(res["failed"], 0, proc.stderr[-3000:])
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return res

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                res = self.check(w["name"], 0, BENCH["end_to_end"])
                for name, m in res["metrics"].items():
                    self.assertGreater(m["value"], 0, f"{w['name']} {name}")

    def test_traced_runs_print_every_layer_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                res = self.check(w["name"], 1, BENCH["per_layer"])
                self.assertGreater(res["metrics"]["scheduler.jobs"]["value"], 0)
                spans = os.path.join(ROOT, ".perfbench_out", f"spans-{w['name']}-seed7.jsonl")
                with open(spans) as f:
                    kinds = {json.loads(line)["kind"] for line in f}
                self.assertTrue({"job", "stage", "task"} <= kinds, kinds)

    def test_refuses_to_run_without_the_program(self):
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in BENCH["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("target"))
            proc = run(BENCH["workloads"][0]["name"], 0, cwd=bare)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
