#!/usr/bin/env python3
"""Smoke run: one workload at sf 0.001, untraced and traced, printing every
metric with its unit; fails if the run is not correct or a metric named in
BENCHMARK.json is missing.

Usage (from the root of a checkout): python3 layerbench/smoke.py [workload]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    workload = sys.argv[1] if len(sys.argv) > 1 else "tpch"
    declared = {}
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
        declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                    1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    ok = True
    for trace in (0, 1):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "1", "--seconds", "1", "--trace",
             str(trace), "--sf", "0.001"],
            stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"trace {trace}: run failed with {p.returncode}")
            sys.exit(1)
        line = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"-- {workload} trace {trace}: correct={line['correct']} "
              f"attempted={line['attempted']} failed={line['failed']}")
        for name, m in line["metrics"].items():
            print(f"{name:24s} {m['unit']:6s} {m['value']:.6g}")
        ok &= line["correct"]
        for name, unit in declared.get(trace, {}).items():
            got = line["metrics"].get(name, {}).get("unit")
            if got != unit:
                print(f"missing or mis-united metric: {name} ({unit})")
                ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
