#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/steadiness.py --workloads ccgp_etl,text_cascade --seeds 1-10

Runs perfbench/run.py once per (workload, seed), in that order, and prints
per workload and metric the median, the quartiles and the interquartile
distance as a share of the median (`statistics.quantiles(values, n=4)`),
the spread BENCHMARK.json's bounds are judged against. All records are
appended to perfbench/work/steadiness.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = os.path.join(HERE, "work", "steadiness.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for wl in a.workloads.split(","):
        values = {}
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)], cwd=REPO, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall,
                                    **res}) + "\n")
            print(f"{wl} seed {seed}: {wall:.1f} s wall, correct={res['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            note = f" (bound {b}, limit {b / 3:.3f})" if b else ""
            print(f"  {wl} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {spread:.3f}{note}", flush=True)


if __name__ == "__main__":
    main()
