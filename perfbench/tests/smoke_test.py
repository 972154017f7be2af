#!/usr/bin/env python3
"""Smoke test for the benchmark: every code path on tiny inputs.

    python3 perfbench/tests/smoke_test.py

Runs each workload once traced (which also runs its untraced half, its
oracle check, the ladder and the span writer) and one workload untraced,
on the --smoke sizes (the q4112 shapes at scale 1e-4). Checks that every
run agrees with its oracle, prints exactly the metrics BENCHMARK.json
declares with their units, and writes its run record; and that a
directory holding only the benchmark (no engine sources) fails fast
without printing a result.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run(workload, trace, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


class SmokeTest(unittest.TestCase):

    def check_result(self, p, trace):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return result

    def latest_record(self, workload, trace):
        recs = sorted(glob.glob(os.path.join(
            BENCH, ".runs", "records", f"*-{workload}-s7-t{trace}-*[0-9].json")))
        self.assertTrue(recs, "no run record written")
        with open(recs[-1]) as f:
            rec = json.load(f)
        for key in ("host", "versions", "git_commit", "seed", "cpu_probe_s", "inputs",
                    "chosen_plan", "fail_ratio"):
            self.assertIn(key, rec)
        self.assertEqual(rec["seed"], 7)
        return rec

    def test_q4112_probe_untraced(self):
        res = self.check_result(run("q4112_probe", 0), trace=False)
        self.assertGreater(res["metrics"]["warm_s"]["value"], 0)
        self.assertEqual(self.latest_record("q4112_probe", 0)["chosen_plan"], "dense")

    def test_q4112_probe_traced(self):
        self.check_result(run("q4112_probe", 1), trace=True)
        self.assertTrue(glob.glob(os.path.join(BENCH, ".runs", "records",
                                               "*-q4112_probe-s7-t1-*-spans.jsonl")))

    def test_q4112_groups_traced(self):
        res = self.check_result(run("q4112_groups", 1), trace=True)
        self.assertGreater(res["metrics"]["spark.shuffle_write_mb"]["value"], 0)
        self.assertEqual(self.latest_record("q4112_groups", 1)["chosen_plan"], "partial_dense")

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".runs")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".runs", "target"))
            p = run("q4112_probe", 0, cwd=d, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    os.makedirs(os.path.join(BENCH, ".runs"), exist_ok=True)
    unittest.main()
