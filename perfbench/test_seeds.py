#!/usr/bin/env python3
"""Seed tests of the benchmark itself.

For each workload: two runs with the same seed must do the same work (same
operation order, identical written and stored bytes and checked row
counts), and a run
with another seed must do different work (another query order or day
sequence) and still pass every correctness check.

Run from the repository root: python3 perfbench/test_seeds.py [workload ...]
Each run is a full benchmark run (about a minute).
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["read_mix", "daily_increment"]


def run(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    env = json.loads(next(l for l in lines if l.startswith("env "))[4:])
    return env, json.loads(lines[-1])


def check(workload):
    a_env, a = run(workload, 7)
    b_env, b = run(workload, 7)
    c_env, c = run(workload, 8)
    for r in (a, b, c):
        assert r["correct"] and r["failed"] == 0, r
    assert a_env["ops"] == b_env["ops"], "same seed, different operation order"
    assert a_env["rows"] == b_env["rows"], "same seed, different row counts"
    m, n = a["metrics"], b["metrics"]
    for k in ("written_mb", "stored_mb"):
        assert m[k]["value"] == n[k]["value"], f"same seed, {k} {m[k]['value']} vs {n[k]['value']}"
    assert a_env["ops"] != c_env["ops"], "another seed, same operation order"
    print(f"ok {workload}: seed 7 twice -> same ops, rows {sum(a_env['rows'].values())}, "
          f"stored_mb {m['stored_mb']['value']:.4f}, written_mb {m['written_mb']['value']:.4f}; "
          f"seed 8 -> other ops, correct")


if __name__ == "__main__":
    for w in sys.argv[1:] or WORKLOADS:
        check(w)
