"""Smoke test of the benchmark command at a tiny input size.

Runs run.py on 2000 docs for both workloads untraced and once traced, and
checks that each prints every metric BENCHMARK.json declares for it, with
its unit, and passes its output checks. Needs sbt and a Spark 4 install
(SPARK_HOME or spark-submit on PATH); takes a few minutes.

Run: python3 -m unittest discover -s perfbench -p 'test_smoke.py'
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def run_bench(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--docs", "2000"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


@unittest.skipUnless(shutil.which("sbt"), "needs sbt and a Spark 4 install")
class SmokeTest(unittest.TestCase):
    def check(self, out, declared):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        for name, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), name)

    def test_untraced_workloads_print_every_end_to_end_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(run_bench(w["name"], 0), SPEC["end_to_end"])

    def test_traced_run_prints_every_per_layer_metric(self):
        self.check(run_bench(SPEC["workloads"][0]["name"], 1), SPEC["per_layer"])


class MetricMapTest(unittest.TestCase):
    def test_metrics_json_maps_every_declared_metric(self):
        with open(os.path.join(HERE, "metrics.json")) as fh:
            m = json.load(fh)
        self.assertEqual(set(m["end_to_end"]), {e["name"] for e in SPEC["end_to_end"]})
        self.assertEqual([e["name"] for e in m["per_layer"]],
                         [e["name"] for e in SPEC["per_layer"]])
        pairs = {(w["name"], e["name"]) for w in SPEC["workloads"] for e in SPEC["end_to_end"]}
        for e in m["per_layer"]:
            for pair in e["moves"]:
                self.assertIn(tuple(pair), pairs, e["name"])
            if not e["moves"]:
                self.assertTrue(e.get("note"), f"{e['name']} moves nothing and says not why")


if __name__ == "__main__":
    unittest.main()
