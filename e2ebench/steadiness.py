#!/usr/bin/env python3
"""Steadiness check: runs the benchmark as two sets of runs of the same code
and prints, for each end-to-end metric, each set's spread beside the CPU
steal the runs of that set recorded, and how far the second set's median
moved from the first's.

    python3 e2ebench/steadiness.py --workload NAME

Each set is ten runs at BENCHMARK.json's run_seconds. The spread is the distance between the first and the third quartile
(statistics.quantiles(values, n=4)) as a share of the median. The bound of
each metric comes from BENCHMARK.json; a spread above a third of it, or a
shift above it, is marked.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10


def one_set(workload, seeds, seconds):
    values, steal = {}, []
    for s in seeds:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: run failed\n{p.stderr[-2000:]}")
        lines = p.stdout.strip().splitlines()
        summary = json.loads(lines[-1])
        rec = next(l.split(": ", 1)[1] for l in lines if l.startswith("record: "))
        with open(os.path.join(ROOT, rec)) as f:
            steal.append(json.load(f)["host"]["steal_pct"])
        for k, v in summary["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"  seed {s}: correct={summary['correct']} failed={summary['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in summary["metrics"].items())
              + f" steal={steal[-1]:.2f}%", flush=True)
    return values, steal


def spread(v):
    q = statistics.quantiles(v, n=4)
    return (q[2] - q[0]) / statistics.median(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for i in range(2):
        print(f"set {i + 1}:")
        sets.append(one_set(args.workload, range(1000 * i + 1, 1000 * i + 1 + RUNS), seconds))
    (a, steal_a), (b, steal_b) = sets
    print(f"{args.workload}: steal mean {statistics.mean(steal_a):.2f}% / "
          f"{statistics.mean(steal_b):.2f}%, max {max(steal_a):.2f}% / {max(steal_b):.2f}%")
    for k in a:
        bound = bounds.get(k, float("nan"))
        sa, sb = spread(a[k]), spread(b[k])
        shift = statistics.median(b[k]) / statistics.median(a[k]) - 1
        flag = "" if max(sa, sb) <= bound / 3 and abs(shift) <= bound else "  <-- unsteady"
        print(f"  {k:14s} median {statistics.median(a[k]):.4g} / {statistics.median(b[k]):.4g}"
              f"  spread {sa:.3f} / {sb:.3f}  shift {shift:+.3f}  bound {bound}{flag}")


if __name__ == "__main__":
    main()
