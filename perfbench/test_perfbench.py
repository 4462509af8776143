"""The benchmark's own tests: every workload on the sf0.001 lake prints
every metric of BENCHMARK.json by name and unit, a wrong reference makes
the run fail, and a directory without the program refuses to run.

    python3 perfbench/test_perfbench.py

Each test starts a JVM; the whole file takes several minutes. The first
test run builds perfbench/.build if the checkout changed.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       capture_output=True, text=True, cwd=cwd, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


class TinyScale(unittest.TestCase):
    def assert_metrics(self, workload, trace):
        rc, out, p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--tiny")
        self.assertEqual(rc, 0, p.stderr[-3000:])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_lake_query(self):
        self.assert_metrics("lake_query", 0)

    def test_lake_query_traced(self):
        self.assert_metrics("lake_query", 1)
        with open(os.path.join(HERE, ".records", "trace-lake_query-7.json")) as f:
            trace = json.load(f)
        kinds = {s["kind"] for s in trace["spans"]}
        self.assertLessEqual({"workload", "pass", "op", "entry", "action", "stream"}, kinds)
        self.assertIn("span.op", trace["layer_time_s"])
        self.assertIn("delta_pass_s", trace["overhead"])

    def test_index_maintain(self):
        self.assert_metrics("index_maintain", 0)

    def test_index_maintain_traced(self):
        self.assert_metrics("index_maintain", 1)


class Failures(unittest.TestCase):
    def test_wrong_reference_fails_the_run(self):
        rc, out, _ = bench("--workload", "lake_query", "--seed", "7", "--seconds", "1",
                           "--tiny", "--corrupt-reference")
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)

    def test_refuses_without_the_program(self):
        os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
        bare = tempfile.mkdtemp(dir=os.path.join(HERE, ".runs"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".runs", ".records",
                                                          "__pycache__"))
            rc, out, _ = bench("--workload", "lake_query", "--seed", "1", "--seconds", "1",
                               "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(out)
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main(verbosity=2)
