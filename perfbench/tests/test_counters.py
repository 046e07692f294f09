#!/usr/bin/env python3
"""Two traced runs with one seed must give identical per-query counters:
jobs, stages, tasks, shuffle write bytes and rows, input bytes and rows.

    python3 perfbench/tests/test_counters.py [--workload NAME ...] [--seed N]

Run it from the repository root. Exit code 0 means every counter of every
query matched; otherwise each difference is printed.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")
WORKLOADS = ["relational_scaled", "graph_maintain"]


def traced_run(workload, seed):
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", "10", "--trace", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload}: traced run failed (exit {r.returncode})")
    path = os.path.join(".bench_work", "results", f"{workload}-s{seed}-t1.json")
    with open(path) as f:
        return json.load(f)["per_query"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=11)
    a = ap.parse_args()
    diffs = []
    for w in a.workload or WORKLOADS:
        first, second = traced_run(w, a.seed), traced_run(w, a.seed)
        if first.keys() != second.keys():
            diffs.append(f"{w}: query sets differ: {sorted(first)} vs {sorted(second)}")
        for q in sorted(first.keys() & second.keys()):
            for k, v in first[q].items():
                if second[q].get(k) != v:
                    diffs.append(f"{w} {q} {k}: {v} vs {second[q].get(k)}")
        print(f"{w}: {len(first)} queries compared")
    for d in diffs:
        print("MISMATCH", d)
    print("ok" if not diffs else f"{len(diffs)} mismatches")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
