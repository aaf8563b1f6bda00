#!/usr/bin/env python3
"""Self-tests of the benchmark's failure accounting.

A deliberately failing op (a missing source on migrate, an unknown query
name on query_mix) must be counted in `failed`, lower `ok_share`, make
the exit status nonzero, and leave the other ops reporting. A directory
holding only BENCHMARK.json and perfbench/ must be refused without a
result line.

Run from the repository root (builds on first use, ~3 min in all):
  python3 -m unittest discover -s perfbench/tests -v
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]


def bench(cwd, workload, *extra):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)


class FailureAccounting(unittest.TestCase):
    def check_one_failing_kind(self, workload):
        p = bench(ROOT, workload, "--inject-fail")
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertGreater(r["attempted"], r["failed"])
        m = r["metrics"]
        self.assertLess(m["ok_share"]["value"], 1.0)
        # The ops that did not fail still report their timings.
        self.assertGreater(m["op_a_s"]["value"], 0.0)
        self.assertGreater(m["op_b_s"]["value"], 0.0)

    def test_migrate_missing_source(self):
        self.check_one_failing_kind("migrate")

    def test_query_mix_unknown_query(self):
        self.check_one_failing_kind("query_mix")

    def test_bare_directory_is_refused(self):
        bare = ROOT / "perfbench" / ".work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        try:
            p = bench(bare, "migrate")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
