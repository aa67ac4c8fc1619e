#!/usr/bin/env python3
"""Alternating-pair comparison of two checkouts on one perfbench workload.

    python3 scripts/bench_pairs.py --parent DIR --change DIR --workload W --pairs N

Each pair runs `python3 perfbench/run.py --workload W --seconds S` once in
each checkout, S being the `run_seconds` of the change's BENCHMARK.json and
the seed perfbench's default (each builds its own sources into its own
.bench_build/); the order swaps every pair, parent first in even pairs, so
slow drift of the host cancels out. Every run's metrics go to stderr as it
finishes. The summary, for each end-to-end metric named in the change's
BENCHMARK.json, is: the parent's and the change's medians, the change in
percent, how many pairs the change won (in the metric's own direction), the
parent's interquartile range (Q3 - Q1), and whether the medians differ by
more than that range.

Exits non-zero, at once, when a run fails, prints no result line, or reports
"correct": false or failed repetitions. The script only runs perfbench/run.py;
it reads and writes nothing under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    if p.returncode != 0 or res is None:
        sys.exit(f"run failed in {checkout} (exit code {p.returncode})")
    if not res.get("correct") or res.get("failed", 0) > 0:
        sys.exit(f"incorrect run in {checkout}: correct={res.get('correct')} "
                 f"failed={res.get('failed')} of {res.get('attempted')}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout holding the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            m = run(getattr(a, side), a.workload, seconds)
            runs[side].append(m)
            print(f"pair {i} {side}: " + " ".join(f"{k}={v:.4g}" for k, v in sorted(m.items())),
                  file=sys.stderr, flush=True)

    print(f"{a.workload}: {a.pairs} pairs, {seconds} s")
    print(f"{'metric':<14}{'parent':>12}{'change':>12}{'delta':>9}{'wins':>8}"
          f"{'parent IQR':>12}  beyond IQR")
    for name, direction in better.items():
        par = [r[name] for r in runs["parent"]]
        chg = [r[name] for r in runs["change"]]
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
        mp, mc = statistics.median(par), statistics.median(chg)
        q1, q3 = quartiles(par)
        delta = 100.0 * (mc - mp) / mp if mp else float("nan")
        beyond = "yes" if abs(mc - mp) > q3 - q1 else "no"
        print(f"{name:<14}{mp:>12.4f}{mc:>12.4f}{delta:>8.1f}%{wins:>5}/{a.pairs:<2}"
              f"{q3 - q1:>12.4f}  {beyond}")


if __name__ == "__main__":
    main()
