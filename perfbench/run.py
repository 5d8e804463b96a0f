#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload pip_broadcast --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the engine and the benchmark
from source (perfbench/build.py, cached by a content stamp), prepares the
seeded inputs and their expectations (cached per workload and seed under
.bench_build/data), then starts one JVM that runs passes back to back on
local[nproc] with a fixed heap. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics.
The line before it is a report with the run fingerprint, the input
properties, every pass time and every failure record.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["pip_broadcast", "pip_partitioned", "coco_round_trip"]
# both JVMs of a run (prepare, measure) must end this long after the build
RUN_TIMEOUT_S = 170
# the measuring JVM starts no pass later than this before the deadline
STOP_MARGIN_S = 40


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return line.split()[1]
    except OSError:
        pass
    return ""


def git_commit():
    """HEAD, with "+dirty" when the tree has uncommitted changes; "" outside git"""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return ""
        dirty = subprocess.run(["git", "status", "--porcelain"], capture_output=True, text=True, timeout=10)
        return head.stdout.strip() + ("+dirty" if dirty.stdout.strip() else "")
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test hooks: a forged expectation, and the prepare step alone
    ap.add_argument("--forge", type=int, choices=[0, 1], default=0, help=argparse.SUPPRESS)
    ap.add_argument("--prepare-only", type=int, choices=[0, 1], default=0, help=argparse.SUPPRESS)
    args = ap.parse_args()
    out = os.path.join(build.BUILD_DIR, "result.txt")

    if not os.path.isdir(os.path.join("src", "main", "scala")):
        sys.exit("run: no engine sources here; run from the root of a checkout")
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    # scratch of earlier runs that were killed; runs in one checkout are sequential
    shutil.rmtree(os.path.join(build.BUILD_DIR, "work"), ignore_errors=True)
    classpath = build.build()
    stamp = open(build.STAMP).read().strip()
    if os.path.exists(out):
        os.remove(out)

    deadline = time.time() + RUN_TIMEOUT_S
    # the cached prepare step runs in its own JVM, before the measured one
    needed = WORKLOADS if args.trace else [args.workload]
    rc = jvm(classpath, stamp, args, deadline, ["--workload", ",".join(needed), "--prepare-only", "1",
                                           "--out", os.path.join(build.BUILD_DIR, "prepare.txt")])
    if rc != 0:
        sys.exit(f"run: the prepare step failed with exit code {rc}")
    if args.prepare_only:
        print(open(os.path.join(build.BUILD_DIR, "prepare.txt")).read().splitlines()[0])
        return
    rc = jvm(classpath, stamp, args, deadline, ["--workload", args.workload, "--forge", str(args.forge),
                                           "--out", out])
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"run: the benchmark JVM failed with exit code {rc}")
    lines = [l for l in open(out).read().splitlines() if l.strip()]
    for line in lines:
        print(line)
    sys.exit(0 if json.loads(lines[-1]).get("correct") else 1)


def jvm(classpath, stamp, args, deadline, extra):
    """Run the benchmark's JVM side; returns its exit code."""
    t0_ms = int(time.time() * 1000)
    prepare = "--prepare-only" in extra
    cmd = build.java_cmd(classpath) + ["perfbench.Main",
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--t0-ms", str(t0_ms), "--nproc", str(build.nproc()),
            "--heap", build.HEAP, "--mem-total-kb", mem_total_kb(),
            "--git", git_commit(), "--source-sha256", stamp, "--gen-key", build.generator_key(),
            "--stop-at-ms", str(int((deadline - STOP_MARGIN_S) * 1000)), "--root", os.getcwd()] + extra
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        print(f"run: {extra[1]}{' prepare' if prepare else ''} JVM took "
              f"{time.time() - t0_ms / 1000:.1f} s", file=sys.stderr)
        return rc
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"run: the benchmark did not finish within {RUN_TIMEOUT_S} s")


if __name__ == "__main__":
    main()
