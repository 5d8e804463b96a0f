#!/usr/bin/env python3
"""Top self and inclusive frames of a JFR recording's CPU samples.

    python3 tools/jfr_top.py RECORDING.jfr [--top 15] [--depth 64]

It reads the recording through the JDK's `jfr print --events
jdk.ExecutionSample --stack-depth DEPTH` and groups the samples by thread:
`executors` (Spark's "Executor task launch worker" threads) and `main` (the
driver's main thread). For each group it prints the number of samples, then
the TOP frames by self samples (the frame on top of the stack) and by
inclusive samples (the frame anywhere in the stack, counted once per
sample), each with its count and its share of the group's samples. A frame
is a method (`class.method(argument types)`), with line numbers dropped.

Record a benchmark run by giving its JVMs a flight recording, for example

    JAVA_TOOL_OPTIONS='-XX:StartFlightRecording=filename=/tmp/pip.jfr,settings=profile' \\
        python3 perfbench/run.py --workload pip_broadcast --seed 1 --trace 0

(both the prepare and the measure JVM write the file; the measure JVM runs
last when the inputs are already prepared). The default sampling period of
the `profile` settings is 10 ms per thread, so a pass of a few seconds gives
a few thousand executor samples. Stacks deeper than DEPTH are cut at the
bottom; frames below the cut count for no inclusive total.
"""
import argparse
import collections
import re
import shutil
import subprocess
import sys

GROUPS = (("executors", lambda t: t.startswith("Executor task launch worker")),
          ("main", lambda t: t == "main"))


def samples(path, depth):
    """(thread name, [frames, top first]) of each jdk.ExecutionSample"""
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_top: no `jfr` on PATH (it ships with the JDK)")
    out = subprocess.run([jfr, "print", "--events", "jdk.ExecutionSample", "--stack-depth", str(depth), path],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    thread, frames, in_stack = None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(', s)
            thread = m.group(1) if m else s[len("sampledThread = "):]
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(re.sub(r"\s+line: \d+.*$", "", s))
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None


def table(title, counts, n, top):
    print(f"  {title}")
    for frame, c in counts.most_common(top):
        print(f"    {c:7d} {100.0 * c / n:5.1f} %  {frame}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15, help="frames per table (default 15)")
    ap.add_argument("--depth", type=int, default=64, help="stack depth read per sample (default 64)")
    args = ap.parse_args()
    n = collections.Counter()
    self_, incl = collections.defaultdict(collections.Counter), collections.defaultdict(collections.Counter)
    other = 0
    for thread, frames in samples(args.recording, args.depth):
        group = next((g for g, match in GROUPS if match(thread)), None)
        if group is None:
            other += 1
            continue
        n[group] += 1
        if frames:
            self_[group][frames[0]] += 1
        for f in set(frames):
            incl[group][f] += 1
    for group, _ in GROUPS:
        print(f"{group}: {n[group]} samples")
        if n[group]:
            table("self", self_[group], n[group], args.top)
            table("inclusive", incl[group], n[group], args.top)
    print(f"other threads: {other} samples")


if __name__ == "__main__":
    main()
