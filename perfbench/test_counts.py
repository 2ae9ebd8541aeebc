#!/usr/bin/env python3
"""Count determinism: two traced runs of one seed must give the same counts.

    python3 perfbench/test_counts.py [--seed N] [--workload W ...]

Run from the root of a checkout. For every workload it makes two traced
runs on one seed, which execute the same operation list, and compares
their count metrics. Counts in EXACT must repeat
exactly (a later change may cite them); the others are listed as
non-exact and must not be cited as counts. Exits 1 if an EXACT count
differs or a run fails.
"""

import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import workloads  # noqa: E402

EXACT = ["exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
         "lake.files_added", "lake.files_removed", "lake.commits", "lake.live_files",
         "ops.lsh_precision", "ops.ann_recall"]
NON_EXACT = ["exec.shuffle_bytes", "exec.input_bytes", "lake.bytes_written"]


def traced(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        return None
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    return doc if doc["correct"] else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=sorted(workloads.WORKLOADS))
    args = ap.parse_args()
    ok = True
    for w in args.workload or sorted(workloads.WORKLOADS):
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        if a is None or b is None:
            print(f"{w}: traced run failed or incorrect")
            ok = False
            continue
        for name in EXACT + NON_EXACT:
            va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
            same = va == vb
            tag = "exact" if name in EXACT else "non-exact"
            print(f"{w:14s} {name:22s} {va:>16.6g} {vb:>16.6g} "
                  f"{'same' if same else 'DIFFERS'} ({tag})")
            if name in EXACT and not same:
                ok = False
        print(f"{w}: first run's per-layer metrics: " + json.dumps(
            {k: round(v["value"], 4) for k, v in a["metrics"].items()}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
