#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload, tiny inputs.

    python3 perfbench/test_smoke.py [workload ...]

For each workload it makes an untraced and a traced run with the same
seed and checks that
  - both pass their correctness check,
  - the untraced run reports exactly the end-to-end metrics of
    BENCHMARK.json and the traced run exactly its per-layer metrics,
    each with the unit BENCHMARK.json gives it,
  - the door's admitted set hashes the same in both runs (same seed,
    same admits).
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ALL = ["mq_relay", "door_ingest", "serve_mixed", "query_batch"]


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=REPO, stdout=subprocess.PIPE, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit code {out.returncode}")
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.strip()]
    return lines[0], lines[-1]


def check_metrics(workload, trace, got, want):
    names = {m["name"]: m["unit"] for m in want}
    if set(got) != set(names):
        sys.exit(f"FAIL {workload} trace={trace}: metrics differ from "
                 f"BENCHMARK.json: missing {sorted(set(names) - set(got))}, "
                 f"extra {sorted(set(got) - set(names))}")
    for n, m in got.items():
        if m["unit"] != names[n]:
            sys.exit(f"FAIL {workload}: {n} has unit {m['unit']}, not {names[n]}")


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in sys.argv[1:] or ALL:
        report0, result0 = run(w, 0)
        report1, result1 = run(w, 1)
        for trace, result in ((0, result0), (1, result1)):
            if not result["correct"] or result["failed"] != 0:
                sys.exit(f"FAIL {w} trace={trace}: correctness check failed")
        check_metrics(w, 0, result0["metrics"], bench["end_to_end"])
        check_metrics(w, 1, result1["metrics"], bench["per_layer"])
        if w == "door_ingest" and \
                report0["notes"]["admit_hash"] != report1["notes"]["admit_hash"]:
            sys.exit("FAIL door_ingest: the admitted set differs between two "
                     "runs of the same seed")
        print(f"ok {w}")


if __name__ == "__main__":
    main()
