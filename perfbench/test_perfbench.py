"""Tests of the benchmark itself: every workload in smoke mode (tiny inputs,
fixed op counts) must pass its output checks with no failed op and report
every metric by name, and BENCHMARK.json must agree with run.py.

    python3 -m unittest perfbench/test_perfbench.py      (from the checkout root)

The curation smoke run takes about a minute: its four queries cost about
as much on a tiny table as on a large one.
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
sys.path.insert(0, HERE)
import run  # noqa: E402


def smoke(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       capture_output=True, text=True, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def manifest():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def manifest_units(trace):
    """{metric: unit} of the end-to-end (trace 0) or per-layer metrics."""
    bench = manifest()
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]} \
        if bench else {}


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        rc, lines, err = smoke(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(list(last["metrics"]), run.expected(trace))
        units = manifest_units(trace)
        for name, m in last["metrics"].items():
            self.assertIsInstance(m["value"], (int, float))
            if units:
                self.assertEqual(m["unit"], units[name], name)
        detail = json.loads(lines[-2])
        self.assertEqual(detail["seed"], 7)
        self.assertTrue(all(c["ok"] for c in detail["checks"].values()), detail["checks"])
        return detail

    def test_ingest(self):
        self.check("ingest", 0)

    def test_ingest_traced(self):
        d = self.check("ingest", 1)
        self.assertGreater(d["all_metrics"]["ingest.jobs_per_batch"]["value"], 0)

    def test_lake_dml(self):
        self.check("lake_dml", 0)

    def test_lake_dml_traced(self):
        d = self.check("lake_dml", 1)
        self.assertGreater(d["all_metrics"]["txlog.write.calls"]["value"], 0)
        self.assertGreater(d["all_metrics"]["sql.dml.calls"]["value"], 0)

    def test_curation_traced(self):
        d = self.check("curation", 1)
        self.assertEqual(len(d["info"]["oracle"]), len(run.CURATION_QUERIES))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        bench = manifest()
        if bench is None:
            self.skipTest("no BENCHMARK.json")
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.GENERIC))
        self.assertEqual([m["name"] for m in bench["end_to_end"]], run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)

    def test_refuses_to_run_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               capture_output=True, text=True, cwd=d, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
