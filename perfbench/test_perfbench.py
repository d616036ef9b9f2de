#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

- the self-test: family table, goldens, metric list, and the timed plans of
  q03 (md5), q02 (pip_winner) and q108 (haversine) keep the kernels a
  count() would prune;
- a deliberately wrong query_loop golden and a corrupted pipeline checkpoint text
  row each make the run report failed > 0 (fail_frac > 0) and correct=false;
- a directory holding only BENCHMARK.json and perfbench/ fails cleanly.
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
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def result(*args):
    p = subprocess.run(RUN + list(args), cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class PerfbenchTest(unittest.TestCase):
    def test_selftest(self):
        p = subprocess.run(RUN + ["--selftest"], cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertIn("SELFTEST PASS", p.stdout)

    def test_wrong_golden_fails(self):
        r = result("--workload", "query_loop", "--seed", "3", "--seconds", "1", "--trace", "0",
                   "--inject", "golden")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)

    def test_corrupt_text_fails(self):
        r = result("--workload", "pipeline", "--seed", "3", "--seconds", "1", "--trace", "0",
                   "--inject", "text")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)

    def test_bare_directory_fails(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
