#!/usr/bin/env python3
"""Steadiness and exact-count checks for the benchmark (not part of a run).

    python3 perfbench/spread.py spread <workload> <first-seed> <n>
        Runs n seeds and prints, per end-to-end metric, the median and the
        interquartile range as a share of the median, against its bound.
    python3 perfbench/spread.py counts <workload> <seed>
        Runs the traced run twice on one seed and compares the counts that
        must repeat exactly.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ["driver.jobs", "mb.batches", "scan.rows", "state.rows_updated",
         "kv.dirty_per_commit", "kv.writes_per_commit"]


def run(workload, seed, trace, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    mode, workload = sys.argv[1], sys.argv[2]
    secs = bench["run_seconds"]
    if mode == "spread":
        first, n = int(sys.argv[3]), int(sys.argv[4])
        vals = {m["name"]: [] for m in bench["end_to_end"]}
        for seed in range(first, first + n):
            r = run(workload, seed, 0, secs)
            assert r["correct"], r
            print(json.dumps({"seed": seed, **{k: v["value"] for k, v in r["metrics"].items()}}),
                  flush=True)
            for k in vals:
                vals[k].append(r["metrics"][k]["value"])
        for m in bench["end_to_end"]:
            xs = vals[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            print(f"{m['name']:14s} median {med:12.4f} {m['unit']:5s} "
                  f"iqr/median {spread:.4f} bound {m['bound']} "
                  f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}")
    elif mode == "counts":
        seed = int(sys.argv[3])
        a, b = (run(workload, seed, 1, secs) for _ in range(2))
        for k in EXACT:
            va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
            print(f"{k:22s} {va:14.4f} {vb:14.4f} {'same' if va == vb else 'DIFFERENT'}")


if __name__ == "__main__":
    main()
