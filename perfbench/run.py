#!/usr/bin/env python3
"""Mirror benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark (see
build.py), runs one workload in one JVM on a local[N] Spark session with N
the CPUs this process may use, checks every output, and prints one JSON
line: with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics (and writes the spans to .bench_work/traces/). Exits non-zero if a
correctness gate fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import report  # noqa: E402
from stats import Failures  # noqa: E402

WORKLOADS = ["release_load", "release_sync", "changefeed_mirror", "corpus_dedup"]
DEADLINE_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    t_start = time.monotonic()  # a run after the build must end within 180 s
    cores = len(os.sched_getaffinity(0))
    bench_work = os.path.join(build.ROOT, ".bench_work")
    work = os.path.join(bench_work, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = build.java_cmd(work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out, "--cores", str(cores)])
    fails = Failures()
    gates = []
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = p.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0:
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            sys.exit(f"perfbench: the benchmark JVM failed ({rc})")
        with open(out) as f:
            r = json.load(f)
        fails.add(r["attempted"], r["failed"], r["failures"])
        gates = [(g["name"], g["ok"], g["detail"]) for g in r["gates"]]
        if a.workload == "corpus_dedup":
            import oracle
            ex = r["extra"]
            gates += oracle.check(ex["corpus_dir"], ex["out_dir"], ex["oracle_sql"])
        if a.trace:
            layers = report.per_layer(r, cores)
            units = per_layer_units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
            traces = os.path.join(bench_work, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump(report.trace_file(r, layers, cores), f, indent=1)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in report.end_to_end(r).items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = [g for g in gates if not g[1]]
    for name, _, detail in bad:
        sys.stderr.write(f"GATE FAILED: {name}: {detail}\n")
    for reason in fails.reasons:
        sys.stderr.write(f"FAILED OPERATION: {reason}\n")
    correct = not bad and bool(gates)
    print(json.dumps({"correct": correct, "attempted": fails.attempted,
                      "failed": fails.failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def per_layer_units():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    main()
