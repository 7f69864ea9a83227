#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload corpus --seeds 1 2 3 4 5

Runs `perfbench/run.py` once per seed (sequentially, from the checkout
root) and prints, per metric, the median, the interquartile range as a
share of the median (`statistics.quantiles(values, n=4)`), and that
share against the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: rc={p.returncode} correct={last['correct']} "
              f"{time.time() - t0:.0f}s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        share = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:18s} median {med:10.4g}  iqr/median {share:6.3f}  "
              f"bound {b}  share/bound {share / b if b else float('nan'):5.2f}")


if __name__ == "__main__":
    sys.exit(main())
