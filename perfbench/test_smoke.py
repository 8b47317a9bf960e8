"""The benchmark's own tests: every workload in smoke mode (sf0.001 inputs,
short query lists), one traced run, and the refusal to run without the
engine's sources.

    python3 -m unittest perfbench/test_smoke.py     (from the checkout root)
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
RUN = os.path.join(HERE, "run.py")
E2E = {"setup_s", "run_s", "latency_p50_ms"}


def bench(workload, trace=0, cwd=ROOT, run=RUN):
    r = subprocess.run([sys.executable, run, "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), r


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace=0):
        code, result, r = bench(workload, trace)
        self.assertEqual(code, 0, r.stdout[-3000:] + r.stderr[-3000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)
        return result, r.stdout

    def test_ingest(self):
        result, _ = self.check("ingest")
        self.assertEqual(set(result["metrics"]), E2E)
        self.assertTrue(all(m["value"] > 0 for m in result["metrics"].values()))

    def test_curate(self):
        result, _ = self.check("curate")
        self.assertEqual(set(result["metrics"]), E2E)

    def test_adhoc_traced(self):
        result, out = self.check("adhoc", trace=1)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = {m["name"] for m in json.load(f)["per_layer"]}
        self.assertEqual(set(result["metrics"]), per_layer)
        self.assertGreater(result["metrics"]["spark.jobs"]["value"], 0)
        self.assertIn("trace.overhead_s", out)
        self.assertIn("selfcheck.jobs repeats", out)

    def test_refuses_without_engine_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            code, result, _ = bench("ingest", cwd=d, run=os.path.join(d, "perfbench", "run.py"))
        self.assertNotEqual(code, 0)
        self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
