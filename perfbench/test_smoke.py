#!/usr/bin/env python3
"""Tiny-input smoke test of the benchmark: every workload, untraced and
traced, must pass its correctness checks and emit exactly the metrics
BENCHMARK.json declares, each with its declared unit.

    python3 perfbench/test_smoke.py      # from the repository root
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace):
    bench = declared()
    cmd = bench["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--scale", "0.1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        rc, out = run(workload, trace)
        self.assertEqual(rc, 0)
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        want = {m["name"]: m["unit"] for m in declared()["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)


for _w in declared()["workloads"]:
    for _t in (0, 1):
        setattr(Smoke, f"test_{_w['name']}_trace{_t}",
                lambda self, w=_w["name"], t=_t: self.check(w, t))


if __name__ == "__main__":
    unittest.main()
