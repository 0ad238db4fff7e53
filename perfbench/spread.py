#!/usr/bin/env python3
"""Runs one workload under several seeds and reports, per metric, the
median, the quartiles and the spread (quartile distance over median),
the way the benchmark's bounds are checked.

    python3 perfbench/spread.py --workload curation --seeds 1-10 [--trace 1] [--out FILE]

Run from the repository root; the run command and seconds come from
BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="append each run's result line to this file")
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    values = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", args.trace]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not line:
            sys.exit(f"seed {seed}: exit {proc.returncode}")
        res = json.loads(line)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        print(f"{k:32} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:8.1%} "
              f"{'' if b is None else f'{b:.0%}':>6}")


if __name__ == "__main__":
    main()
