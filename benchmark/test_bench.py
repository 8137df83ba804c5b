"""The benchmark's own test: outputs damaged the way a defect would damage
them are reported as failed operations, and undamaged runs pass.

    python3 -m unittest benchmark/test_bench.py

Each case runs one workload at the tiny size (under half a minute each).
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def run(workload, corrupt=-1):
    p = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "0", "--size", "tiny",
                        "--corrupt", str(corrupt)],
                       capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class OutputChecks(unittest.TestCase):

    def assert_one_failure(self, result):
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertGreaterEqual(result["attempted"], 2)

    def test_log_raw_clean_run_passes(self):
        r = run("log_raw")
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)

    def test_log_raw_dropped_record_fails(self):
        self.assert_one_failure(run("log_raw", corrupt=1))

    def test_corpus_surviving_duplicate_fails(self):
        self.assert_one_failure(run("corpus_turns", corrupt=1))


if __name__ == "__main__":
    unittest.main()
