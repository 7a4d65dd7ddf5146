#!/usr/bin/env python3
"""Run-to-run spread and tracing overhead of the benchmark.

    python3 perfbench/spread.py --workload <name> [--runs 10] [--first-seed 1]
                                [--overhead]

Runs the workload once per seed (untraced) and prints, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median, with the
metric's bound from BENCHMARK.json. With --overhead every seed also runs
traced, and the median of (traced - untraced) per metric is printed as
the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit code {out.returncode}")
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.strip()]
    if not lines[-1]["correct"]:
        sys.exit(f"{workload} seed {seed} trace {trace}: correctness check failed")
    return {k: v["value"] for k, v in lines[0]["end_to_end"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(a.first_seed, a.first_seed + a.runs)
    plain, traced = [], []
    for s in seeds:
        plain.append(run(a.workload, s, bench["run_seconds"], 0))
        if a.overhead:
            traced.append(run(a.workload, s, bench["run_seconds"], 1))
        print(f"seed {s}: " + ", ".join(f"{k}={v:.4g}" for k, v in plain[-1].items()),
              file=sys.stderr)
    print(f"{a.workload}: {a.runs} runs, seeds {seeds.start}..{seeds.stop - 1}")
    for name, bound in bounds.items():
        xs = [r[name] for r in plain]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        spread = (q[2] - q[0]) / med if med else float("inf")
        line = f"  {name:18s} median {med:12.4f}  spread {spread:6.3f}  bound {bound}"
        if a.overhead:
            over = statistics.median([t[name] - p[name] for t, p in zip(traced, plain)])
            line += f"  tracing overhead {over:+.4f} ({over / med:+.1%})" if med else ""
        print(line)


if __name__ == "__main__":
    main()
