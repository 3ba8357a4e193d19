#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_bench.py            # from the repository root

  - every metric name in BENCHMARK.json is well formed and used once;
  - BENCHMARK.json has the shape the runner relies on;
  - every per-layer metric belongs to a workload that measures it;
  - a short smoke run of each workload, untraced and traced, passes its
    output checks and prints a last line that matches BENCHMARK.json;
  - the trace reader's self time adds up on a hand-made span tree.

The smoke runs start the benchmark JVM (a few minutes in all, plus one
build if the sources changed). Set PERFBENCH_SKIP_SMOKE=1 to run only the
fast tests.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402
import trace_report  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class SpecTest(unittest.TestCase):
    def test_metric_names(self):
        b = spec()
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_shape(self):
        b = spec()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        for p in b["paths"]:
            self.assertTrue(os.path.isdir(os.path.join(ROOT, p)))


    def test_layer_owners(self):
        registered = [w["name"] for w in spec()["workloads"]]
        owned = run.COMMON_LAYERS + tuple(p for w in registered for p in run.OWN_LAYERS[w])
        for m in spec()["per_layer"]:
            self.assertTrue(m["name"].startswith(owned), f"{m['name']}: no workload measures it")


class TraceReportTest(unittest.TestCase):
    def test_self_times(self):
        spans = [
            {"id": 0, "layer": "run", "start_ms": 0, "end_ms": 1000, "parent": -1},
            {"id": 1, "layer": "op", "start_ms": 100, "end_ms": 600, "parent": 0},
            {"id": 2, "layer": "spark", "start_ms": 200, "end_ms": 300, "parent": 1},
            {"id": 3, "layer": "spark", "start_ms": 250, "end_ms": 400, "parent": 1},
        ]
        st = trace_report.self_times(spans)
        self.assertAlmostEqual(st["run"], 0.5)
        self.assertAlmostEqual(st["op"], 0.3)   # 500 ms minus the 200..400 union
        self.assertAlmostEqual(st["spark"], 0.25)
        self.assertAlmostEqual(sum(st.values()), 1.05)  # overlapping leaves count twice


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE") == "1", "smoke runs skipped")
class SmokeTest(unittest.TestCase):
    """Seconds = 2 shrinks every workload to its minimum: 2 fraud batches,
    2 curation batches, 14 suite queries (one per module group)."""

    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "2", "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], r.stdout[-3000:])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        group = spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in group})
        for m in group:
            got = last["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        return last["metrics"]

    def test_fraud_stream(self):
        e2e = self.run_bench("fraud_stream", 0)
        self.assertGreater(e2e["throughput_per_s"]["value"], 0)
        layers = self.run_bench("fraud_stream", 1)
        self.assertEqual(layers["stream.batches"]["value"], 2)
        self.assertGreater(layers["state.apply_s"]["value"], 0)

    def test_query_suite(self):
        e2e = self.run_bench("query_suite", 0)
        self.assertGreater(e2e["latency_p50_s"]["value"], 0)
        layers = self.run_bench("query_suite", 1)
        self.assertGreater(layers["suite.exec_s"]["value"], 0)
        for name, m in layers.items():
            if name.startswith("suite.module."):
                self.assertGreater(m["value"], 0, name)
        self.assertGreater(layers["curation.batch_s"]["value"], 0)

    def test_curation_stream(self):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "curation_stream",
             "--seed", "7", "--seconds", "2", "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"], r.stdout[-3000:])


if __name__ == "__main__":
    unittest.main()
