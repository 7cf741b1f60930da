#!/usr/bin/env python3
"""End-to-end benchmark of graft's product flows.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. Builds graft and the benchmark from source
on first use (see build.py), then runs one workload in one warm Spark
session. The last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Inputs are generated
from the seed under .bench_work/ and removed afterwards; a traced run
also writes its spans and counters under .bench_traces/.
Workloads and metrics are described in perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["tree_flow", "pipeline_loops"]
RUN_TIMEOUT_S = 170


def run_java(classpath, main, args, work, timeout):
    """Run one JVM, relay its output to stderr, return its stdout lines."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = build.java_command(classpath, main, args, work / "tmp")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {main} did not finish within {timeout} s")
    lines = out.splitlines()
    for line in lines[:-1]:
        sys.stderr.write(line + "\n")
    if proc.returncode != 0:
        if lines:
            sys.stderr.write(lines[-1] + "\n")
        raise SystemExit(f"perfbench: {main} exited with {proc.returncode}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests and exit")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build(tests=a.self_test)
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    root = build.ROOT
    work = root / ".bench_work" / f"{a.workload or 'self-test'}-{os.getpid()}"
    try:
        if a.self_test:
            lines = run_java(classpath, "graft.cli.perfbench.PerfBenchTest",
                             [str(work)], work, RUN_TIMEOUT_S)
            sys.stderr.write(lines[-1] + "\n")
            print("perfbench self-test passed")
            return
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", str(work)]
        if a.trace:
            stamp = time.strftime("%Y%m%dT%H%M%S")
            trace = root / ".bench_traces" / f"{a.workload}-seed{a.seed}-{stamp}.json"
            args += ["--trace-out", str(trace)]
        lines = run_java(classpath, "graft.cli.perfbench.PerfBench", args,
                         work, RUN_TIMEOUT_S)
        json.loads(lines[-1])
        print(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
