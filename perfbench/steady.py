#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and report, per
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median) against the metric's bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [workload ...]

Run from the repository root; all workloads of BENCHMARK.json by default.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    ok = True
    for wl in workloads:
        values = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            out = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = json.loads(out.stdout.strip().splitlines()[-1])
            if not last["correct"] or last["failed"]:
                print(f"{wl} seed {seed}: correct={last['correct']} failed={last['failed']}")
                ok = False
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med
            steady = spread < m["bound"] / 3
            ok &= steady or m["name"] == "setup_s"
            print(f"{wl:<14}{m['name']:<14} median {med:>10.4g}  spread {spread:6.1%}  "
                  f"bound/3 {m['bound'] / 3:6.1%}  {'ok' if steady else 'WIDE'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
