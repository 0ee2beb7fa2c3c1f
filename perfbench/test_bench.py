"""The benchmark's own tests: a tiny-input run of every workload must print
every declared metric by name, and a run whose expected answers are
perturbed must report failures.

Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from run import WORKLOADS  # noqa: E402  (declared and opt-in workloads)

DECLARED = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def bench(workload, *flags, trace=0):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--tiny", *flags],
        cwd=HERE.parent, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], float)

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                detail, result = bench(w)
                self.check_metrics(result, DECLARED["end_to_end"])
                self.assertTrue(result["correct"], detail["failures"])
                self.assertEqual(result["failed"], 0)
                self.assertEqual(detail["error_rate"], 0.0)
                self.assertGreaterEqual(result["attempted"], 1)

    def test_traced_runs_print_every_per_layer_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                detail, result = bench(w, trace=1)
                self.check_metrics(result, DECLARED["per_layer"])
                self.assertTrue(result["correct"], detail["failures"])
                self.assertIn("trace.overhead_ms", detail["layers"])


class NegativeTest(unittest.TestCase):
    def test_perturbed_answers_raise_the_error_rate(self):
        for w in ("ingest_jsonl", "query_point", "query_scan"):
            with self.subTest(workload=w):
                detail, result = bench(w, "--perturb")
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assertGreater(detail["error_rate"], 0)


if __name__ == "__main__":
    unittest.main()
