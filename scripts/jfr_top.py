#!/usr/bin/env python3
"""Inclusive CPU samples per method and thread group, from a JFR recording.

    jfr print --events jdk.ExecutionSample --stack-depth 512 rec.jfr > samples.txt
    python3 scripts/jfr_top.py samples.txt --top 25
    python3 scripts/jfr_top.py samples.txt --grep 'SizeEstimator|putIteratorAsValues'

A method's inclusive count is the number of samples whose stack holds it,
once per sample however deep it recurses. Samples are split by thread:
`main` (the driver thread, which builds and plans the queries and runs
the driver side of every loop), `executor` (`Executor task launch worker`
threads, where tasks run) and `other`. Reads standard input when no file
is given.
"""
import argparse
import collections
import re
import sys

GROUPS = ("main", "executor", "other")


def group(thread):
    if thread == "main":
        return "main"
    if thread.startswith("Executor task launch worker"):
        return "executor"
    return "other"


def samples(lines):
    """Yields (thread name, frames) per jdk.ExecutionSample event."""
    thread, frames, in_stack, truncated = None, None, False, False
    for line in lines:
        s = line.strip()
        if s == "jdk.ExecutionSample {":
            thread, frames, in_stack = None, [], False
        elif frames is None:
            continue
        elif in_stack:
            if s == "]":
                in_stack = False
            elif s == "...":
                truncated = True
            elif s:
                frames.append(s.split("(", 1)[0])
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(', s)
            thread = m.group(1) if m else s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif s == "}":
            yield thread, frames
            frames = None
    if truncated:
        print("jfr_top: some stacks are truncated; run `jfr print` with a larger "
              "--stack-depth for exact inclusive counts", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("file", nargs="?", help="`jfr print` output (default: stdin)")
    ap.add_argument("--top", type=int, default=20, help="methods shown per group")
    ap.add_argument("--grep", help="show only methods matching this regex")
    a = ap.parse_args()

    total = collections.Counter()
    counts = {g: collections.Counter() for g in GROUPS}
    with (open(a.file) if a.file else sys.stdin) as f:
        for thread, frames in samples(f):
            g = group(thread or "")
            total[g] += 1
            counts[g].update(set(frames))

    pattern = re.compile(a.grep) if a.grep else None
    for g in GROUPS:
        n = total[g]
        print(f"{g}: {n} samples")
        shown = [(m, c) for m, c in counts[g].most_common()
                 if pattern is None or pattern.search(m)][:a.top]
        for m, c in shown:
            print(f"  {c:7d} {100.0 * c / n:5.1f}%  {m}")


if __name__ == "__main__":
    main()
