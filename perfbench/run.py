#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <curation|stream_replay> --seed <n>
        --seconds <s> --trace <0|1> [--cpus n]

Builds the program and the benchmark from source (first run only), runs one
fresh JVM (set-up, warm-up, measured passes), checks every timed entry's
output against DuckDB, and prints one JSON line as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Everything it writes stays under the build
directory (CARGO_TARGET_DIR, default .bench_build) and is removed at exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170  # for the JVM, counted from the end of the build
DATA = os.path.join(HERE, "data", "sf0.01")
SETUPS = 3
# Nominal seconds of one measured pass on a 4-core machine. --seconds buys
# ceil(seconds / nominal) passes, and at least MIN_PASSES: a fixed amount of
# work per run, so a run never gains or loses a pass because the host ran
# slow or fast. Three passes make the per-pass median a median, which one
# disturbed pass does not move.
NOMINAL_PASS_S = {"curation": 3.5, "stream_replay": 6.0}
MIN_PASSES = 3
# Noop passes between the pass that writes the results and the measured
# ones. With JVM_OPTS, `jit.ms` per pass is near its floor after the pass
# that writes the results on stream_replay and after one more on curation
# (warm-up curve in the README).
WARMUP_PASSES = {"curation": 1, "stream_replay": 0}
# C1 only, with the code cache C2 would get. At this input size the
# operations are driver-bound, and C2 compiles for 6+ passes at about half
# the process CPU, so the measured passes would be JIT warm-up.
# C1's default 48 MB code cache fills with Spark's generated classes and is
# then flushed and recompiled mid-run; 256 MB keeps it from filling.
JVM_OPTS = ["-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def wanted_metrics(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def measured_passes(args):
    if args.workload not in NOMINAL_PASS_S:
        raise SystemExit(f"run: unknown workload '{args.workload}'")
    return max(MIN_PASSES, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))


def run_jvm(classes, args, run_dir, t0):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = (["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--passes", str(measured_passes(args)), "--trace", str(args.trace),
            "--data", DATA, "--setups", str(SETUPS),
            "--warmup", str(WARMUP_PASSES[args.workload]), "--cpus", str(args.cpus), "--out", run_dir])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=build.ROOT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    with open(log_path, errors="replace") as fh:
        lines = fh.read().splitlines()
    progress = [l for l in lines if l.startswith("[perfbench]")]
    print("\n".join(progress if code == 0 else lines[-60:]), file=sys.stderr)
    if code != 0:
        raise SystemExit(f"run: JVM exited with {code}")
    with open(os.path.join(run_dir, "run.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local parallelism (default: min(4, nproc))")
    args = ap.parse_args()

    wanted = wanted_metrics(args.trace)
    classes = build.ensure()
    t0 = time.monotonic()
    run_dir = os.path.join(build.build_dir(), "perfbench", "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        record = run_jvm(classes, args, run_dir, t0)
        check = oracle.check_all(DATA, record["results"], record["entries"],
                                 record["oracles"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for entry, (ok, msg) in sorted(check.items()):
        print(f"[check] {'ok  ' if ok else 'FAIL'} {entry}: {msg}", file=sys.stderr)
    attempted, failed, metrics = stats.end_to_end(record, check)
    if args.trace:
        metrics = stats.per_layer(record)
    warm = ", ".join(f"{p['wall_s']:.2f}s/jit {p['jit_ms']:.0f}ms" for p in record["warmup"])
    print(f"[perfbench] warm-up passes: {warm}; measured passes: "
          f"{len(record['passes'])}; setup {statistics.median(record['setup_s']):.2f}s",
          file=sys.stderr)
    print(stats.result_line(attempted, failed, metrics, wanted))


if __name__ == "__main__":
    main()
