#!/usr/bin/env python3
"""Runs every benchmark workload once and prints each metric by name.

    python3 perfbench/report.py [--seed N] [--trace]

For each workload it prints every end-to-end metric with its unit, the
attempted and failed query counts, and the name and status of each
failing query. With --trace it also makes the traced run and prints
every per-layer metric, including the tracing overhead
(trace.overhead_frac: traced over untraced pass time, minus one).
Run from the root of a checkout.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    sys.stderr.write(p.stderr)
    if p.returncode != 0:
        sys.exit(f"{workload}: run failed (exit {p.returncode})")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace in ([0, 1] if a.trace else [0]):
            r = run(w["name"], a.seed, bench["run_seconds"], trace)
            print(f"== {w['name']} (trace {trace}): correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  f"failed_frac={r['failed'] / r['attempted']:.4f}")
            for name, m in r["metrics"].items():
                print(f"  {name:34s} {m['value']:>16.4f} {m['unit']}")
            sys.stdout.flush()


if __name__ == "__main__":
    main()
