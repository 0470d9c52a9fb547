#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py), runs one JVM at local[<cores>] in a
closed loop with one client (graft.perfbench.Main), checks the outputs,
and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under .bench_build/, .bench_work/ and
.bench_out/ of the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# scale factor of the generated inputs per workload: etl loads orders 7.5k,
# lineitem ~30k and customer 750 rows; analytics reads lineitem ~6k rows
# and 500 documents and embeddings
SCALE = {"etl": 0.005, "analytics": 0.001}
DEADLINE_S = 170
# A run is too short for C2 to finish: its compile threads took ~45% of
# the process's CPU while the calls were timed, and how far it got moved
# every figure. C1 alone compiles the program within the warm-up; a code
# cache that never fills keeps it from flushing and recompiling; the
# serial collector runs no concurrent GC threads beside the calls.
JVM_STEADY = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
              "-XX:+UseSerialGC"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def metric_units(section):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def run_jvm(cmd, cwd, log, timeout):
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run exceeded {timeout:.0f} s; log in {log}")


def board_check(data, dump):
    """DuckDB fingerprint check of the board pass: row count plus the
    order-insensitive frame hash of tools/compare.py, per board row that
    declares oracle SQL; a row compare.py does not report counts as
    failed. Returns (rows checked, rows failed, messages)."""
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        expected = len(json.load(fh))
    out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                          data, dump], capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith(("PASS", "FAIL"))]
    passed = sum(l.startswith("PASS") for l in lines)
    return expected, expected - passed, \
        [l for l in lines if l.startswith("FAIL")] + out.stderr.splitlines()[-3:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources here (src/main/scala); "
                 "run from the root of a full checkout")
    import build
    import gen
    classpath = build.build()
    # the deadline covers the run, not the build
    start = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    try:
        data = os.path.join(work, "data")
        gen.generate(data, a.seed, SCALE[a.workload])
        gen_s = time.time() - start
        result_file = os.path.join(outdir, f"{tag}.json")
        cmd = (["java", "-Xmx3g", "-Xss8m"] + JVM_STEADY + [
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dderby.system.home={os.path.join(work, 'derby')}",
                f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
                "-Dspark.ui.enabled=false"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
               + ["-cp", classpath, "graft.perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", data,
                  "--work", work, "--out", result_file])
        log = os.path.join(outdir, f"{tag}.log")
        code = run_jvm(cmd, work, log, DEADLINE_S - (time.time() - start))
        jvm_s = time.time() - start - gen_s
        if code != 0 or not os.path.exists(result_file):
            sys.exit(f"perfbench: run failed (exit {code}); log in {log}")
        with open(result_file) as fh:
            res = json.load(fh)
        if a.workload == "analytics":
            checked, bad, lines = board_check(data, os.path.join(work, "board-dump"))
            res["attempted"] += checked
            res["failed"] += bad
            res["notes"] += lines if bad else []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for name, unit in metric_units(section).items():
        # a per-layer metric of a layer the workload does not use reads 0
        value = res[section].get(name, 0.0 if a.trace else None)
        if value is None:
            sys.exit(f"perfbench: metric {name} was not measured")
        metrics[name] = {"value": value, "unit": unit}
    for note in res["notes"]:
        print(f"perfbench: {note}", file=sys.stderr)
    print(f"perfbench: {tag} units={res['units']} "
          f"wall={time.time() - start:.1f}s (inputs {gen_s:.1f}s, jvm {jvm_s:.1f}s) "
          f"cpu {res['end_to_end']} wall {res['wall']}",
          file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
