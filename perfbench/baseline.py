#!/usr/bin/env python3
"""Records the per-layer baseline: one traced run per workload, copied to
perfbench/baseline/<workload>.json, and the table perfbench/baseline/BASELINE.md
with the layer each metric belongs to and the end-to-end metric it should move.

    python3 perfbench/baseline.py [--seed 1] [--seconds 5]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (layer metrics, module, end-to-end metric it should move, workload)
PREDICTIONS = [
    (["discovery.s"], "etl.Discovery / SplitFiles / SqlDdl", "db_load_p50_s, pass_s", "release_load"),
    (["checksums.s", "checksums.mb_per_s"], "etl.Checksums", "mb_per_s", "release_load"),
    (["load.s", "load.job_s", "load.driver_s", "load.task_cpu_s", "load.gc_s", "load.bytes_written"],
     "etl.MySqlDump → etl.Snapshots stage", "mb_per_s, stored_bytes_per_input_byte", "release_load"),
    (["commit.ms"], "etl.TxnCatalog", "db_load_p50_s", "release_load"),
    (["analyze.s"], "etl.Snapshots analyze", "mb_per_s", "release_load"),
    (["catalog.dml_jobs", "catalog.dml_driver_s", "catalog.dml_task_cpu_s", "catalog.dml_shuffle_bytes",
      "catalog.files_added", "catalog.bytes_written"], "sources.GraftCatalog row-level DML",
     "dml_p50_ms, pass_s, written_bytes_per_changed_byte", "release_sync"),
    (["catalog.compact_s", "catalog.bytes_rewritten"], "sources.GraftCatalog procedures",
     "pass_s, written_bytes_per_changed_byte", "release_sync"),
    (["scan.plan_ms", "scan.exec_ms", "scan.files_read", "scan.files_skipped_ratio", "scan.delete_files"],
     "sources.GraftScan / SnapshotPruning", "read_p50_ms, pass_s", "release_sync"),
    (["upstream.commit_ms"], "etl.Snapshots publish*", "lag_p50_ms, pass_s", "changefeed_mirror"),
    (["stream.latest_offset_ms", "stream.get_batch_ms", "stream.query_planning_ms", "stream.add_batch_ms",
      "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.jobs_per_batch",
      "stream.data_batches_ratio", "stream.restart_ms"],
     "sources.SnapshotSource / GraftStreamingWrite / streaming", "lag_p50_ms, pass_s", "changefeed_mirror"),
    (["dedup.exact_s", "dedup.minhash_s", "clustering.groups_s", "clustering.groups_jobs", "curate.s"],
     "ops.Dedup / Clustering / Curate", "docs_per_s, pass_s", "corpus_dedup"),
    (["spark.jobs", "spark.job_s", "spark.driver_gap_s", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.cores_busy"],
     "Spark engine, per traced pass", "whichever workload's wall they dominate", "all"),
    (["load_mb_per_s", "db_load_p50_s", "stored_bytes_per_input_byte", "dml_p50_ms", "dml_tail_ms",
      "read_p50_ms", "read_tail_ms", "written_bytes_per_changed_byte", "lag_p50_ms", "lag_tail_ms",
      "docs_per_s", "error_rate", "trace.overhead_pct"],
     "the workload's own view, from the traced run's untraced passes", "—", "its workload"),
]


def fmt(v):
    if v == 0:
        return "0"
    if abs(v) >= 1000:
        return f"{v:,.0f}"
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    a = ap.parse_args()
    out = os.path.join(HERE, "baseline")
    os.makedirs(out, exist_ok=True)
    traces = {}
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"traced run of {w} failed")
        src = os.path.join(ROOT, ".bench_work", "traces", f"{w}-seed{a.seed}.json")
        shutil.copy(src, os.path.join(out, f"{w}.json"))
        with open(src) as f:
            traces[w] = json.load(f)
    listed = {m for ms, *_ in PREDICTIONS for m in ms}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    missing = [m["name"] for m in spec["per_layer"] if m["name"] not in listed]
    if missing:
        sys.exit(f"per-layer metrics without a prediction: {missing}")
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    lines = [
        "# Per-layer baseline",
        "",
        f"One traced run per workload (`--trace 1 --seed {a.seed} --seconds {a.seconds}`),",
        f"local[{traces[WORKLOADS[0]]['cores']}] on a 4-vCPU machine. The raw trace of each run,",
        "spans included, is in the `<workload>.json` beside this file. A value is per traced",
        "pass, per call or per statement as perfbench/README.md defines it. 0 = the workload",
        "does not call that layer, and the prediction there is no change.",
        "",
        "| layer metric | unit | module | should move | on | " + " | ".join(WORKLOADS) + " |",
        "| --- | --- | --- | --- | --- | " + " | ".join("---:" for _ in WORKLOADS) + " |",
    ]
    for ms, module, moves, on in PREDICTIONS:
        for m in ms:
            vals = " | ".join(fmt(traces[w]["metrics"][m]) for w in WORKLOADS)
            lines.append(f"| `{m}` | {units[m]} | {module} | {moves} | {on} | {vals} |")
    lines += ["", "Bases of the ratios:", ""]
    for w in WORKLOADS:
        lines.append(f"- {w}: `{json.dumps(traces[w]['bases'])}`")
    with open(os.path.join(out, "BASELINE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
