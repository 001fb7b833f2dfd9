#!/usr/bin/env python3
"""Runs the benchmark several times, one seed per run, and reports for each
metric the median, the quartiles and the spread: the inter-quartile range as
a share of the median, as `statistics.quantiles(values, n=4)` gives them.
This is the run-to-run spread a metric's bound in BENCHMARK.json is judged
against, and the measurement a before/after comparison needs on each side.

Usage (from the root of a checkout):
    python3 layerbench/spread.py --workload tpch [--runs 10] [--trace 0]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open("BENCHMARK.json") as f:
            seconds = json.load(f)["run_seconds"]
    values, units, failed = {}, {}, 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run failed with {p.returncode}")
        line = json.loads(p.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **line}), flush=True)
        failed += line["failed"]
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    print(f"{'metric':24s} {'unit':6s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'spread':>7s}")
    for k, xs in values.items():
        q1, q2, q3 = stats.quartiles(xs)
        print(f"{k:24s} {units[k]:6s} {q2:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{stats.spread(xs):7.3f}")
    print(f"{a.runs} runs of {a.workload}, {failed} failed executions")


if __name__ == "__main__":
    main()
