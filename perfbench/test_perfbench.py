"""Self-test of the benchmark: its checks bite, and every workload runs
cleanly on tiny inputs, traced and untraced.

    python3 perfbench/test_perfbench.py

Each case starts the benchmark through run.py, so it builds first if the
sources changed. The whole test takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "read", "table_ops", "generic")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace=0, plant_wrong=0):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny", "1",
         "--plant-wrong", str(plant_wrong)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr
    return json.loads(p.stdout.splitlines()[-1])


class BenchSelfTest(unittest.TestCase):
    def check_shape(self, res, kind):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC[kind]})
        for m in res["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_every_workload_runs_clean(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = run(w)
                self.check_shape(res, "end_to_end")
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_planted_wrong_expectation_counts_as_failed_op(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = run(w, plant_wrong=1)
                self.check_shape(res, "end_to_end")
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], 1)

    def test_traced_run_reports_per_layer_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = run(w, trace=1)
                self.check_shape(res, "per_layer")
                self.assertTrue(res["correct"])
                self.assertGreater(res["metrics"]["trace.spans"]["value"], 0)
                self.assertGreater(res["metrics"]["codec.tokens_decode_mtok_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
