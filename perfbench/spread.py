#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage: python3 perfbench/spread.py <workload> <first seed> <runs> [seconds]

Runs the benchmark once per seed (first seed, first seed + 1, ...) with
tracing off and prints, per end-to-end metric, the ten values, their
median and the distance between the first and third quartile as a share
of the median (statistics.quantiles(values, n=4)), next to the bound
BENCHMARK.json fixes for the metric.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = sys.argv[4] if len(sys.argv) > 4 else str(bench["run_seconds"])
    values = {name: [] for name in bounds}
    failed = 0
    for seed in range(first, first + runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", workload, "--seed", str(seed),
                              "--seconds", seconds, "--trace", "0"],
                             capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        failed += res["failed"]
        for name in bounds:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{n}={res['metrics'][n]['value']:.4g}" for n in bounds), flush=True)
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{name}: median={statistics.median(vs):.6g} "
              f"spread={(q3 - q1) / statistics.median(vs):.4f} bound={bounds[name]}")
    print(f"failed operations: {failed}")


if __name__ == "__main__":
    main()
