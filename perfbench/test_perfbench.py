#!/usr/bin/env python3
"""The benchmark's own tests.

Usage (from the root of a checkout): python3 perfbench/test_perfbench.py

test_planted_failures_are_counted builds the benchmark (the first time) and
runs its self-test workload: one good op, one op that throws and one op that
returns a wrong result. Both bad ops must be counted as failed, and no
metric may use their timings. The other tests need no JVM.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import run  # noqa: E402


def op(i, kind, ms, ok=True, phase="timed", cls="read", **trace):
    o = {"id": i, "kind": kind, "key": kind, "ms": ms, "ok": ok, "phase": phase, "cls": cls,
         "load": 1.0, "err": None if ok else "boom"}
    if trace:
        o["trace"] = trace
    return o


class Accounting(unittest.TestCase):
    def test_failed_ops_are_never_timed(self):
        rep = {"setup_s": [1.0, 2.0, 3.0], "timed_s": 2.0, "retained_heap_mb": 10.0}
        ops = [op(1, "a", 100.0), op(2, "b", 1.0, ok=False), op(3, "c", 300.0), op(4, "c", 500.0)]
        good = [o for o in ops if o["ok"]]
        m = run.end_to_end(rep, good)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["ops_per_s"], 1.5)
        self.assertAlmostEqual(m["latency_p50_ms"], 250.0)  # kinds a (100) and c (median 400)

    def test_self_times_split_jobs_spans_and_driver(self):
        o = op(1, "q", 100.0, start_ms=0.0, job_spans=[[20.0, 50.0]])
        spans = [[1, "sql.build", 10.0, 60.0], [1, "sql.parse", 10.0, 15.0]]
        st = run.self_times(o, spans)
        self.assertAlmostEqual(st["spark.job"], 30.0)
        self.assertAlmostEqual(st["sql.parse"], 5.0)
        self.assertAlmostEqual(st["sql.build"], 15.0)
        self.assertAlmostEqual(st["driver.other"], 50.0)
        self.assertAlmostEqual(run.union_ms([(0, 10), (5, 20), (30, 40)]), 30.0)

    def test_compare_names_the_layer_that_moved(self):
        ctx = {"workload": "w", "seed": 1, "contaminated": False, "load_1m_max": 1.0, "nproc": 4}
        before = {"w": {"context": ctx, "layer_self_ms_per_op": {"spark.job": 100.0, "sql.build": 10.0},
                        "op_counts": {"1": {"jobs": 3, "tasks": 8}}}}
        after = {"w": {"context": ctx, "layer_self_ms_per_op": {"spark.job": 101.0, "sql.build": 30.0},
                       "op_counts": {"1": {"jobs": 3, "tasks": 9}}}}
        moved = compare.compare(before, after)
        self.assertEqual([(w, layer) for w, layer, _, _ in moved], [("w", "sql.build")])
        self.assertEqual(compare.repeatable(before["w"], after["w"]), {"jobs": True, "tasks": False})


class PlantedFailures(unittest.TestCase):
    def test_planted_failures_are_counted(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual((result["correct"], result["attempted"], result["failed"]), (False, 3, 2))
        report = [l for l in lines if l.startswith("# report ")][0][len("# report "):]
        summary = json.load(open(os.path.join(ROOT, report)))
        self.assertEqual(sorted(o["kind"] for o in summary["failed_ops"]), ["throws", "wrong"])
        rep = json.load(open(os.path.join(os.path.dirname(os.path.join(ROOT, report)), "report.json")))
        good = [o["ms"] for o in rep["ops"] if o["ok"]]
        self.assertEqual(result["metrics"]["latency_p50_ms"]["value"], good[0])


if __name__ == "__main__":
    unittest.main()
