#!/usr/bin/env python3
"""Job-count determinism report: runs one workload traced twice with
the same seed and compares the Spark job count of every span exactly.

Usage: python3 perfbench/determinism.py <workload> [seed] [seconds]

A span is matched across the two runs by its kind and request id and
its occurrence number. Prints, per span kind, how many spans matched
and which ones differ (kind, request, jobs in run 1, jobs in run 2);
the kinds with no differing span are the ones whose job counts a later
change can pin.
"""
import collections
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spans(workload, seed, seconds, run):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                   check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".bench_out", f"{workload}-s{seed}-t1-spans.jsonl")
    kept = path.replace(".jsonl", f"-run{run}.jsonl")
    shutil.copyfile(path, kept)
    seen = collections.Counter()
    out = {}
    with open(kept) as fh:
        for line in fh:
            s = json.loads(line)
            key = (s["kind"], s["request"].split("/")[-1])
            seen[key] += 1
            out[key + (seen[key],)] = s["jobs"]
    return out


def main():
    workload = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    seconds = sys.argv[3] if len(sys.argv) > 3 else "15"
    a, b = spans(workload, seed, seconds, 1), spans(workload, seed, seconds, 2)
    by_kind = collections.defaultdict(lambda: [0, []])
    for key in sorted(set(a) & set(b)):
        by_kind[key[0]][0] += 1
        if a[key] != b[key]:
            by_kind[key[0]][1].append((key[1], key[2], a[key], b[key]))
    report = {"workload": workload, "seed": seed,
              "only_in_one_run": len(set(a) ^ set(b)), "kinds": {}}
    for kind, (n, diffs) in sorted(by_kind.items()):
        report["kinds"][kind] = {"matched": n, "differing": len(diffs),
                                 "examples": diffs[:5]}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
