#!/usr/bin/env python3
"""The benchmark's own tests: the smoke mode of the same command, on tiny
inputs, with the same correctness checks.

Run from the repository root:  python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
WORKLOADS = ["migrate_jdbc", "migrate_files", "catalog_ddl", "query_suite"]


def run(args, cwd=ROOT):
    return subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(proc):
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    return json.loads(lines[-1])


class SmokeTest(unittest.TestCase):

    def test_all_workloads_end_to_end(self):
        p = run(["--workload", "all", "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke"])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = result(p)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stdout)
        # the known failures of the seed commit, once per pass: NULLS and
        # accounts on migrate_jdbc, the one user on catalog_ddl
        self.assertGreater(r["failed"], 0)
        self.assertLess(r["failed"], r["attempted"])
        for w in WORKLOADS:
            for m in ("wall_s", "items_per_s", "setup_s"):
                self.assertGreater(r["metrics"][f"{w}.{m}"]["value"], 0, (w, m))
        # every workload prints its human summary, fail_ratio included
        for w in WORKLOADS:
            self.assertIn(f"[perfbench] {w} wall_s=", p.stdout)
            self.assertRegex(p.stdout, rf"\[perfbench\] {w} .*fail_ratio=")

    def test_traced_run_reports_layers(self):
        p = run(["--workload", "catalog_ddl", "--seed", "7", "--seconds", "2", "--trace", "1",
                 "--smoke"])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        m = result(p)["metrics"]
        self.assertNotIn("wall_s", m)
        self.assertGreater(m["catalog.calls"]["value"], 0)
        self.assertGreater(m["catalog.exec_ddl_s"]["value"], 0)
        self.assertGreater(m["ddl.emit_s"]["value"], 0)
        self.assertGreater(m["pipeline.schema_s"]["value"], 0)
        self.assertIn("trace.overhead_pct", m)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(set(m), {x["name"] for x in bench["per_layer"]})

    def test_refuses_without_program_sources(self):
        # a directory holding only BENCHMARK.json and the benchmark itself
        d = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run(["--workload", "migrate_jdbc", "--seed", "1", "--seconds", "1",
                     "--trace", "0"], cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
