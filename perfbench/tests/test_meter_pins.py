#!/usr/bin/env python3
"""Meter-pin tests for the ELT benchmark.

    python3 -m unittest discover -s perfbench/tests

Runs the benchmark's self-test (every workload on tiny inputs, traced)
once and asserts on its report:
  - every drained region (reads, difference legs, decode, merge) ends in
    a write of its full output, never in count();
  - every Spark job launched while tracing is attributed to exactly one
    span;
  - every output check passes;
  - the metric names and units each mode prints are exactly the ones
    BENCHMARK.json declares.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


class MeterPins(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench/run.py"), "--selftest"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        cls.code = r.returncode
        cls.lines = r.stdout.splitlines()
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def metric_lines(self, trace):
        out = {}
        for line in self.lines:
            if line.startswith(f"metrics trace={trace} "):
                _, _, workload, payload = line.split(" ", 3)
                out[workload] = json.loads(payload)
        return out

    def test_selftest_passes(self):
        failures = [l for l in self.lines if l.startswith("FAIL")]
        self.assertEqual(failures, [])
        self.assertEqual(self.code, 0, "\n".join(self.lines[-20:]))
        self.assertIn('{"selftest":"pass","failures":0}', self.lines)

    def test_every_workload_ran_traced(self):
        ran = {l.split()[1].rstrip(":") for l in self.lines if l.startswith("selftest ")}
        self.assertEqual(ran, {w["name"] for w in self.spec["workloads"]})

    def test_metric_names_match_benchmark_json(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            got = self.metric_lines(trace)
            self.assertTrue(got, f"no metrics printed for trace={trace}")
            for workload, metrics in got.items():
                self.assertEqual(metrics, want, f"{workload} trace={trace}")


if __name__ == "__main__":
    unittest.main()
