"""Smoke tests of the benchmark: a tiny run of every workload, with tracing
off and on, prints every metric BENCHMARK.json names and passes its output
check. Takes a few minutes (one JVM per run).

Usage (from the repository root): python3 perfbench/test_smoke.py
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "3141592653", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def test_harness_knows_exactly_the_spec_workloads(self):
        sys.dont_write_bytecode = True
        sys.path.insert(0, str(ROOT / "perfbench"))
        import run as harness
        self.assertEqual(sorted(harness.WORKLOADS), sorted(w["name"] for w in SPEC["workloads"]))

    def check(self, workload, trace):
        res = run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in wanted))
        for m in wanted:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res["metrics"]

    def test_every_workload_untraced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                metrics = self.check(w["name"], 0)
                for name, m in metrics.items():
                    self.assertGreater(m["value"], 0, name)

    def test_every_workload_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                metrics = self.check(w["name"], 1)
                self.assertGreater(metrics["trace.spans"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
