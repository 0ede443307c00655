#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json once and print one table of metrics.

    python3 perfbench/all.py --seed 1 [--seconds 20] [--trace 0|1]

Each workload runs through ``run.py`` (one fresh JVM each, one after the
other).  The table has a row per metric (name and unit) and a column per
workload; failing statements are named below it.  Exits non-zero if any
workload failed or returned a wrong result.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    names = [w["name"] for w in bench["workloads"]]
    records, ok = {}, True
    for w in names:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        ok &= proc.returncode == 0 and '"correct": true' in proc.stdout
        path = os.path.join(HERE, ".out", f"{w}-s{args.seed}-t{args.trace}.json")
        if proc.returncode == 0 and os.path.exists(path):
            with open(path) as f:
                records[w] = json.load(f)

    key = "per_layer" if args.trace else "end_to_end"
    rows = {}
    for w, rec in records.items():
        for m, (v, unit, n) in rec[key].items():
            rows.setdefault((m, unit), {})[w] = f"{v:.4g} (n={n})"
    print(f"{'metric':28s} {'unit':6s} " + " ".join(f"{w:>22s}" for w in names))
    for (m, unit), vals in rows.items():
        print(f"{m:28s} {unit:6s} " + " ".join(f"{vals.get(w, '-'):>22s}" for w in names))
    for w in names:
        if w not in records:
            print(f"{w}: no result")
            continue
        for sid, stmt, err in records[w]["failures"]:
            print(f"{w}: statement {sid} ({stmt}) failed: {err}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
