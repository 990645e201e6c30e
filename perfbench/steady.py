#!/usr/bin/env python3
"""Runs a workload once per seed and reports each metric's spread.

Usage (from the repository root):

    python3 perfbench/steady.py WORKLOAD FIRST_SEED COUNT [--trace 1] [--out FILE]

Runs `perfbench/run.py` COUNT times with seeds FIRST_SEED, FIRST_SEED+1,
..., one after another. For every metric it prints the median and the
distance between the first and third quartile (statistics.quantiles with
n=4) as a share of the median, next to the metric's bound from
BENCHMARK.json. With --out it also writes every run's result as JSON.
Exits non-zero if any run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("first_seed", type=int)
    p.add_argument("count", type=int)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.count):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(proc.stdout)
            sys.exit("seed %d failed (exit %d)" % (seed, proc.returncode))
        result = json.loads(lines[-1])
        result.update(seed=seed, wall_s=wall)
        runs.append(result)
        print("seed %d: %.1f s wall, correct=%s, %d attempted, %d failed" % (
            seed, wall, result["correct"], result["attempted"], result["failed"]))
    print("%-52s %14s %8s %6s" % ("metric", "median", "iqr/med", "bound"))
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med, s = spread(values) if len(values) > 1 else (values[0], 0.0)
        b = bounds.get(name)
        print("%-52s %14.4f %8.4f %6s" % (name, med, s, "" if b is None else b))
    print("wall seconds: total %.0f, mean %.1f" % (
        sum(r["wall_s"] for r in runs), statistics.mean(r["wall_s"] for r in runs)))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "trace": args.trace, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
