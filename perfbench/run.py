#!/usr/bin/env python3
"""Runs one benchmark workload in a fresh JVM and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: mq_relay, door_ingest, serve_mixed, query_batch (see
BENCHMARK.json). The program is compiled from source on first use
(perfbench/build.py). The JVM gets local[nproc] and a heap sized from
MemTotal (half of it, 2 to 8 GB), and a private run directory under
.bench_build/perfbench/ for its warehouse, checkpoints and queues; the
leftovers of a killed run are removed first.

stdout carries only JSON lines: the workload's report, then as the last
line the result {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones, the span summary goes to
stderr and the spans to .bench_build/perfbench/traces/.

Extra flags: --smoke (tiny inputs, for perfbench/test_smoke.py),
--record (query_batch: store its result hashes as the expected ones).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
WORKLOADS = ["mq_relay", "door_ingest", "serve_mixed", "query_batch"]
JVM_TIMEOUT_S = 170


def host_cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GB (the tier-1 test formula)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    cp = build.build()
    base = os.path.join(REPO, ".bench_build", "perfbench")
    runs = os.path.join(base, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(base, "last-jvm.log")
    cores = host_cores()
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-cp", os.pathsep.join(cp), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--root", run_dir, "--cores", str(cores),
        "--hashes", os.path.join(HERE, "query_hashes.txt"),
        "--trace-out", os.path.join(base, "traces", f"{a.workload}-{a.seed}.jsonl")]
    if a.smoke:
        cmd.append("--smoke")
    if a.record:
        cmd.append("--record")

    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=run_dir,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"run: the JVM did not finish within {JVM_TIMEOUT_S} s; see {log}")
    if a.trace == "1" or p.returncode != 0:
        with open(log) as f:
            tail = [l for l in f if l.startswith("[trace]") or p.returncode != 0]
        sys.stderr.writelines(tail[-80:])
    shutil.rmtree(runs, ignore_errors=True)
    if p.returncode != 0:
        sys.exit(f"run: the JVM failed with code {p.returncode}; see {log}")

    # every stdout line must be bare JSON: a stray prefix or log line on
    # stdout is a defect of the benchmark, not something to skip over
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        parsed = [json.loads(l) for l in lines]
    except ValueError as e:
        sys.exit(f"run: a stdout line of the JVM is not JSON ({e})")
    if not parsed or set(parsed[-1]) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: the JVM printed no result line")
    print(f"[run] {a.workload} seed {a.seed}: {time.time() - t0:.1f} s wall", file=sys.stderr)
    for obj in parsed:
        print(json.dumps(obj))


if __name__ == "__main__":
    main()
