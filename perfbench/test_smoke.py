"""Smoke run of every workload on the smallest tables: the command exits 0
and every output matches its reference.  Takes a few minutes (two cold
JVMs, plus the build on a fresh checkout).

Run: python3 -m unittest discover -s perfbench -p 'test_smoke.py'
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


class Smoke(unittest.TestCase):
    def run_workload(self, workload, trace):
        r = subprocess.run(
            [sys.executable, str(RUN), "--workload", workload, "--seed", "7", "--seconds", "0",
             "--trace", str(trace), "--scale", "0.001"],
            capture_output=True, text=True, cwd=RUN.parent.parent, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
        self.assertEqual(report["metrics"]["results_mismatched"]["value"], 0)
        self.assertEqual(report["metrics"]["failed_ratio"]["value"], 0)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        return result

    def test_milan_batch(self):
        self.run_workload("milan_batch", trace=0)

    def test_milan_stream_traced(self):
        result = self.run_workload("milan_stream", trace=1)
        self.assertGreater(result["metrics"]["state.rows_total"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
