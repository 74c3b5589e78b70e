"""Smoke runs of every workload at sf0.001, through the benchmark command.

Each run compiles the engine first if needed, so the first test can take a
few minutes. Run from the repository root:
  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
RUN = os.path.join("perfbench", "run.py")


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, "--seed", "1", "--seconds", "1",
                           "--sf", "0.001", *args], cwd=cwd, capture_output=True,
                          text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    def contract(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)

    def run_ok(self, workload, trace):
        p = bench("--workload", workload, "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        contract = self.contract()
        want = contract["per_layer" if trace else "end_to_end"]
        if workload in {w["name"] for w in contract["workloads"]}:
            self.assertEqual(set(result["metrics"]), {m["name"] for m in want})
        for m in want:
            if m["name"] in result["metrics"]:
                self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        return p.stdout

    def test_query_mix(self):
        out = self.run_ok("query_mix", 0)
        self.assertIn("[perfbench] query_p50_ms", out)

    def test_scan_heavy_on_the_10x_replica(self):
        out = self.run_ok("scan_heavy", 0)
        self.assertIn("[perfbench] queries_per_s", out)
        self.assertIn("sf0.001x10-", out)

    def test_query_mix_traced(self):
        out = self.run_ok("query_mix", 1)
        for name in ("entry.build_ms", "catalyst.analysis_ms", "catalyst.planning_ms",
                     "spark.driver_gap_ms", "trace.overhead_ms"):
            self.assertIn(f"[perfbench] {name} =", out)

    def test_lake_ingest(self):
        out = self.run_ok("lake_ingest", 0)
        for name in ("commit_p50_ms", "ingest_rows_per_s", "lake_read_p50_ms",
                     "maintenance_s", "write_amp", "space_amp"):
            self.assertIn(f"[perfbench] {name} =", out)

    def test_lake_ingest_traced(self):
        out = self.run_ok("lake_ingest", 1)
        for name in ("versioned_lake.apply_ms", "streams.trigger_ms", "zorder_lake.apply_ms",
                     "ivf.apply_ms", "fsio.bytes_written", "trace.overhead_ms"):
            self.assertIn(f"[perfbench] {name} =", out)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = bench("--workload", "query_mix", "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
