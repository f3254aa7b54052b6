"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The checkers must reject perturbed results, every workload must run
correctly at tiny sizes, and a directory without the program's sources
must fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = [sys.executable, os.path.join(BENCH, "run.py")]


def run(args, cwd=ROOT, timeout=600):
    return subprocess.run(RUN[:1] + [os.path.join(cwd, "perfbench/run.py")] + args, cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=timeout)


class PerfbenchTest(unittest.TestCase):
    def test_checkers_reject_perturbed_results(self):
        r = run(["--selftest"])
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("selftest ok", r.stdout)

    def test_smoke_runs_every_workload_correctly(self):
        run(["--selftest"])  # builds, so the timing below is the smoke run alone
        t0 = time.monotonic()
        r = run(["--smoke"])
        took = time.monotonic() - t0
        self.assertEqual(r.returncode, 0, r.stderr[-4000:])
        self.assertEqual(json.loads(r.stdout.strip().splitlines()[-1]), {"smoke": 4, "bad": 0})
        self.assertLess(took, 60)

    def test_fails_without_the_program(self):
        scratch = os.path.join(ROOT, ".bench_run")
        os.makedirs(scratch, exist_ok=True)
        d = tempfile.mkdtemp(prefix="bare-", dir=scratch)
        try:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(d, ".bench_build"))
            r = subprocess.run(RUN[:1] + [os.path.join(d, "perfbench/run.py"), "--workload",
                                          "kv_read", "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
