#!/usr/bin/env python3
"""Paired parent-versus-change runs of one workload.

    python3 perfbench/pair.py --parent ../parent --change . --workload etl_cycle \\
        --seeds 1-10 --seconds 1

Runs run.py in each checkout once per seed, alternating which side goes
first, and prints each side's median, quartiles and quartile spread per
metric, and how many pairs the change won. The two checkouts are separate
directories, so each has its own build, lock and scratch root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{checkout} seed {seed} failed:\n{r.stderr[-2000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"warning: {checkout} seed {seed} reported incorrect output")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=1)
    a = ap.parse_args()
    sides = {"parent": [], "change": []}
    for k, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            sides[side].append(run(getattr(a, side), a.workload, seed, a.seconds))
    for m in sides["parent"][0]:
        p = [r[m] for r in sides["parent"]]
        c = [r[m] for r in sides["change"]]
        wins = sum(1 for x, y in zip(p, c) if y < x)
        for side, v in (("parent", p), ("change", c)):
            q1, q2, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
            print(f"{m} {side}: median {statistics.median(v):.6g} q1 {q1:.6g} q3 {q3:.6g} "
                  f"spread {benchlib.quartile_spread(v) if len(v) > 1 else 0:.3f}")
        print(f"{m}: change lower in {wins} of {len(p)} pairs")


if __name__ == "__main__":
    main()
