"""The benchmark's own tests: quick mode (single-copy base corpus) on every
workload, untraced and traced, plus the refusal to run outside a checkout.

Run from the root of a checkout (builds on first use, a few minutes):

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace, cwd=ROOT):
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "1",
                        "--seconds", "1", "--trace", str(trace), "--quick"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return r


class QuickMode(unittest.TestCase):
    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], r.stderr[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        if not trace:
            for k, v in res["metrics"].items():
                self.assertGreater(v["value"], 0, k)

    def test_workloads_untraced(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0)

    def test_workloads_traced(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 1)


class OutsideCheckout(unittest.TestCase):
    def test_refuses_without_sources(self):
        d = os.path.join(ROOT, ".bench_build", "outside-checkout")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = run("etl", 0, cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
