#!/usr/bin/env python3
"""Run one workload under several seeds and report, for each end-to-end
metric, the median and the spread (first-to-third quartile distance as a
share of the median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload llm_curation --seeds 1 2 3 4 5

Run from the root of a checkout; `--seconds` defaults to BENCHMARK.json's
run_seconds. Use it to check that a change to the benchmark keeps every
spread well inside its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    runs = []
    for seed in a.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"),
             "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        line = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(line)
        print(f"seed {seed}: {time.time() - t0:.0f} s wall, "
              f"failed {line['failed']}/{line['attempted']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()))
    print(f"{'metric':14s} {'median':>10s} {'spread':>8s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        s = spread(vals) if len(vals) > 1 else float("nan")
        print(f"{m['name']:14s} {statistics.median(vals):10.4f} {s:8.3f} "
              f"{m['bound']:6.2f}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed shares: {sorted(shares)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
