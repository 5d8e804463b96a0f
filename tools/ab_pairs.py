#!/usr/bin/env python3
"""Alternating-pairs comparison of two checkouts on the repo benchmark.

    python3 tools/ab_pairs.py BASE CHANGE --workload coco_round_trip --seed 7 --pairs 10

BASE and CHANGE are the roots of two checkouts (for example the parent
commit, made with `git clone` or `git archive`, and the working tree). Pair
i runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
once in each checkout, the base first when i is even and the change first
when i is odd, so neither side always runs on a warmer machine. Each run's
result line is printed as it arrives.

At the end it prints, for every end-to-end metric that BASE's BENCHMARK.json
declares: each side's median [Q1, Q3], the change's wins over the pairs
(ties and pairs with a missing value count for neither side), the median
change against the base's IQR, and the claim rule: a gain needs wins in at
least nine tenths of the pairs and a median difference larger than the
base's IQR; a median worse than the base's by more than the metric's bound
is flagged. Then the runs that were incorrect or did not finish, and the
failed operations of each side. It never edits either checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(root, workload, seed, seconds):
    """the result dict of one benchmark run, or None when it printed none"""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def quartiles(xs):
    """(Q1, median, Q3), linear interpolation between order statistics"""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, help="run length; default: run_seconds of BASE's BENCHMARK.json")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(args.base, "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    sides = {"base": args.base, "change": args.change}
    results = {"base": [], "change": []}
    for i in range(args.pairs):
        for side in (["base", "change"] if i % 2 == 0 else ["change", "base"]):
            r = run_once(sides[side], args.workload, args.seed, seconds)
            results[side].append(r)
            print(f"pair {i} {side}: {json.dumps(r)}", flush=True)

    def value(r, name):
        m = (r or {}).get("metrics", {}).get(name)
        return m["value"] if m else None

    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs, {seconds} s runs")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(value(b, name), value(c, name)) for b, c in zip(results["base"], results["change"])]
        wins = sum(1 for b, c in pairs if b is not None and c is not None and (c < b if lower else c > b))
        line = []
        meds = {}
        for side in ("base", "change"):
            xs = [v for v in (value(r, name) for r in results[side]) if v is not None]
            if xs:
                q1, meds[side], q3 = quartiles(xs)
                line.append(f"{side} {meds[side]:.4g} [{q1:.4g}, {q3:.4g}] (n={len(xs)})")
                if side == "base":
                    iqr = q3 - q1
            else:
                line.append(f"{side} no values")
        line.append(f"change wins {wins}/{args.pairs}")
        if len(meds) == 2:
            diff = meds["change"] - meds["base"]
            gain = (diff < 0) == lower and abs(diff) > iqr and wins >= 0.9 * args.pairs
            worse = diff / meds["base"] * (1 if lower else -1)
            line.append(f"median {diff / meds['base']:+.1%}, base IQR {iqr:.4g}: "
                        f"{'gain' if gain else 'no claimable gain'}"
                        f"{', worse than its bound ' + format(m['bound'], '.0%') if worse > m['bound'] else ''}")
        print(f"  {name} ({m['unit']}, {m['better']} is better): " + "; ".join(line))
    for side in ("base", "change"):
        rs = results[side]
        print(f"{side}: {sum(1 for r in rs if r is None)} runs without a result, "
              f"{sum(1 for r in rs if r is not None and not r.get('correct'))} incorrect, "
              f"{sum(r.get('failed', 0) for r in rs if r)} of "
              f"{sum(r.get('attempted', 0) for r in rs if r)} operations failed")


if __name__ == "__main__":
    main()
