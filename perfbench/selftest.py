#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py [--workload NAME ...] [--seed N]

From the root of a checkout, for each workload:
  1. the same seed gives byte-identical inputs and expectations
     (prepared twice from scratch; parquet files compared on their data
     pages, see content_hashes);
  2. another seed keeps the shape statistics (classes, rasters, tiles,
     files and levels equal; shares within 0.03; every other numeric
     input property within 10 % of the first seed's);
  3. a forged wrong expectation gives failed == attempted, failed_frac 1
     and no pass time.
Then: in a directory holding only BENCHMARK.json and the benchmark's own
files, the command exits non-zero without printing a result.
Exits non-zero if any check fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

DATA = os.path.join(build.BUILD_DIR, "data")
# properties a seed must not change; every other numeric one may move by 10 %,
# and a share (of a few hundred features) by 0.03 absolute
EXACT_PROPS = {"classes", "rasters", "tiles", "files", "tile_level", "cell_level",
               "tile_px", "raster_px"}
SHARE_TOLERANCE = 0.03
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                       capture_output=True, text=True)
    return p.returncode, [l for l in p.stdout.splitlines() if l.strip()], p.stderr


def prepared_dir(workload, seed):
    return os.path.join(DATA, f"{workload}-s{seed}-{build.generator_key()}")


def content_hashes(d):
    """relative path (Spark's per-write UUID removed) → sha256 of the bytes.

    For parquet files only the data pages count: the writer lists each
    column's encodings from a hash set, so the footer's byte order can
    differ between JVMs for identical rows. The `.crc` files checksum the
    footer too and are skipped."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".crc"):
                continue
            p = os.path.join(root, f)
            rel = re.sub(r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "",
                         os.path.relpath(p, d))
            with open(p, "rb") as fh:
                data = fh.read()
            if f.endswith(".parquet"):
                footer = int.from_bytes(data[-8:-4], "little")
                data = data[:len(data) - 8 - footer]
            out[rel] = hashlib.sha256(data).hexdigest()
    return out


def prepare_fresh(workload, seed):
    shutil.rmtree(prepared_dir(workload, seed), ignore_errors=True)
    rc, lines, err = bench("--workload", workload, "--seed", str(seed), "--prepare-only", "1")
    if rc != 0:
        print(err[-3000:], file=sys.stderr)
        return None, None
    d = prepared_dir(workload, seed)
    with open(os.path.join(d, "properties.json")) as fh:
        return content_hashes(d), json.load(fh)


def numeric(props):
    return {k: v for k, v in props.items() if isinstance(v, (int, float)) and not isinstance(v, bool)}


def selftest(workload, seed):
    h1, p1 = prepare_fresh(workload, seed)
    h2, _ = prepare_fresh(workload, seed)
    check(h1 is not None and h1 == h2,
          f"{workload}: seed {seed} prepared twice gives byte-identical inputs and expectation "
          f"({len(h1 or {})} files)")
    _, p3 = prepare_fresh(workload, seed + 1)
    if p1 and p3:
        bad = []
        for k, v in numeric(p1).items():
            w = p3.get(k)
            if k in EXACT_PROPS:
                if w != v:
                    bad.append(f"{k} {v} vs {w}")
            elif k.endswith("_share"):
                if not isinstance(w, (int, float)) or abs(w - v) > SHARE_TOLERANCE:
                    bad.append(f"{k} {v} vs {w}")
            elif not isinstance(w, (int, float)) or abs(w - v) > 0.1 * abs(v) + 1e-9:
                bad.append(f"{k} {v} vs {w}")
        check(not bad, f"{workload}: seed {seed + 1} keeps the shape statistics {bad or ''}")
    else:
        check(False, f"{workload}: prepare for seed {seed + 1}")

    rc, lines, err = bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                           "--trace", "0", "--forge", "1")
    try:
        report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
        m = result["metrics"]
        check(rc != 0 and result["correct"] is False and result["attempted"] >= 1
              and result["failed"] == result["attempted"] and report["failed_frac"] == 1
              and report["passes"] == 0 and m["pass_s_p50"] is None
              and all(f["error_class"] == "Mismatch" for f in report["failures"]),
              f"{workload}: a forged expectation gives failed_frac 1 and no pass time "
              f"({result['failed']}/{result['attempted']} failed)")
    except (IndexError, KeyError, ValueError):
        print(err[-3000:], file=sys.stderr)
        check(False, f"{workload}: the forged-expectation run printed no result")


def bare_directory():
    with tempfile.TemporaryDirectory(dir=build.BUILD_DIR) as d:
        shutil.copy("BENCHMARK.json", d)
        shutil.copytree("perfbench", os.path.join(d, "perfbench"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
        check(p.returncode != 0 and not p.stdout.strip(),
              "a directory with only BENCHMARK.json and perfbench/ exits non-zero, prints no result")


def main():
    ap = argparse.ArgumentParser(description="benchmark self-tests")
    ap.add_argument("--workload", action="append", choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    bare_directory()
    for w in args.workload or run.WORKLOADS:
        selftest(w, args.seed)
    print(f"{len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
