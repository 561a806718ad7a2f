"""Turns one run's raw measurements (the JVM's result file) into the
benchmark's metrics and the trace file."""
import statistics

from stats import summarize, tail_value

SPARK_KEYS = ["jobs", "job_s", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "bytes_written"]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def untraced_wall(r):
    return sum(w for _, traced, w in r["passes"] if not traced)


def end_to_end(r):
    """Metrics measured with tracing off (all passes of an untraced run)."""
    return {
        "setup_s": (r["session_s"] + statistics.median(r["setup_reps_s"]) + r["warmup_s"], "s"),
        "pass_s": (statistics.median(w for _, t, w in r["passes"] if not t), "s"),
        "mb_per_s": (r["work"].get("mb", 0.0) / untraced_wall(r), "MB/s"),
    }


def self_times(spans):
    """Span duration minus the part of it its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
    return {s["id"]: s["dur_s"] - child.get(s["id"], 0.0) for s in spans}


class _Spans:
    def __init__(self, spans, traced_passes):
        self.spans = spans
        self.passes = max(1, traced_passes)

    def named(self, *names):
        return [s for s in self.spans if s["name"] in names]

    def dur(self, *names):
        return [s["dur_s"] for s in self.named(*names)]

    def per_pass(self, *names, key=None):
        ss = self.named(*names)
        v = sum(s["dur_s"] if key is None else s["counters"][key] for s in ss)
        return v / self.passes

    def attr(self, name, key):
        return [s["attrs"].get(key, 0.0) for s in self.named(name)]


def per_layer(r, cores):
    """Every per-layer metric; a layer the workload does not call reads 0."""
    traced = [p for p in r["passes"] if p[1]]
    sp = _Spans(r["spans"], len(traced))
    wl = r["workload"]
    smp = r["samples"]
    work = r["work"]
    wall_u = untraced_wall(r)
    m = {}

    # etl: discovery, checksums, load, commit, analyze
    m["discovery.s"] = sp.per_pass("discovery", "ddl")
    ck = sp.named("checksums")
    ck_s = sum(s["dur_s"] for s in ck)
    m["checksums.s"] = ck_s / sp.passes
    m["checksums.mb_per_s"] = sum(s["attrs"].get("bytes", 0) for s in ck) / 1e6 / ck_s if ck_s else 0.0
    m["load.s"] = sp.per_pass("load")
    m["load.job_s"] = sp.per_pass("load", key="job_s")
    m["load.driver_s"] = m["load.s"] - m["load.job_s"]
    m["load.task_cpu_s"] = sp.per_pass("load", key="task_cpu_s")
    m["load.gc_s"] = sp.per_pass("load", key="gc_s")
    m["load.bytes_written"] = sp.per_pass("load", key="bytes_written")
    m["commit.ms"] = _median(sp.dur("commit")) * 1e3
    m["analyze.s"] = sp.per_pass("analyze")

    # sources.GraftCatalog row-level DML and procedures
    dml = sp.named("dml")
    kinds = sp.named("dml.merge", "dml.update", "dml.delete")
    n_dml = max(1, len(dml))
    m["catalog.dml_jobs"] = sum(s["counters"]["jobs"] for s in dml) / n_dml
    m["catalog.dml_driver_s"] = sum(s["dur_s"] - s["counters"]["job_s"] for s in dml) / n_dml
    m["catalog.dml_task_cpu_s"] = sum(s["counters"]["task_cpu_s"] for s in dml) / n_dml
    m["catalog.dml_shuffle_bytes"] = sum(
        s["counters"]["shuffle_read_bytes"] + s["counters"]["shuffle_write_bytes"] for s in dml) / n_dml
    m["catalog.files_added"] = sum(s["attrs"].get("files_added", 0) for s in kinds) / n_dml
    m["catalog.bytes_written"] = sum(s["attrs"].get("bytes_added", 0) for s in kinds) / n_dml
    m["catalog.compact_s"] = _median(sp.dur("compact"))
    m["catalog.bytes_rewritten"] = _median(sp.attr("compact", "bytes_rewritten"))

    # sources.GraftScan / SnapshotPruning
    scans = sp.named("scan")
    n_scan = max(1, len(scans))
    read = sum(s["attrs"].get("files_read", 0) for s in scans)
    total = sum(s["attrs"].get("files_total", 0) for s in scans)
    m["scan.plan_ms"] = _median(sp.dur("scan.plan")) * 1e3
    m["scan.exec_ms"] = _median(sp.dur("scan.exec")) * 1e3
    m["scan.files_read"] = read / n_scan
    m["scan.files_skipped_ratio"] = 1 - read / total if total else 0.0
    m["scan.delete_files"] = sum(s["attrs"].get("delete_files", 0) for s in scans) / n_scan

    # etl.Snapshots publish*, streaming source and sink
    m["upstream.commit_ms"] = _median(sp.dur("upstream.commit")) * 1e3
    batches = r["stream_batches"]
    data = [b for b in batches if b["rows"] > 0]
    for key, name in [("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                      ("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")]:
        m["stream." + name] = statistics.mean(b["duration_ms"].get(key, 0) for b in data) if data else 0.0
    catchup_jobs = sum(s["counters"]["jobs"] for s in sp.named("stream.catchup"))
    m["stream.jobs_per_batch"] = catchup_jobs / len(data) if data else 0.0
    m["stream.data_batches_ratio"] = len(data) / len(batches) if batches else 0.0
    m["stream.restart_ms"] = _median(sp.dur("stream.restart")) * 1e3

    # graft.ops
    m["dedup.exact_s"] = _median(sp.dur("dedup.exact"))
    m["dedup.minhash_s"] = _median(sp.dur("dedup.minhash"))
    m["clustering.groups_s"] = _median(sp.dur("clustering.groups"))
    m["clustering.groups_jobs"] = _median([s["counters"]["jobs"] for s in sp.named("clustering.groups")])
    m["curate.s"] = _median(sp.dur("curate"))

    # Spark engine, per traced pass
    passes = sp.named("pass")
    pass_wall = sum(s["dur_s"] for s in passes)
    for key, name in [("jobs", "jobs"), ("job_s", "job_s"), ("task_run_s", "task_run_s"),
                      ("task_cpu_s", "task_cpu_s"), ("gc_s", "gc_s"),
                      ("shuffle_read_bytes", "shuffle_read_bytes"),
                      ("shuffle_write_bytes", "shuffle_write_bytes")]:
        m["spark." + name] = sp.per_pass("pass", key=key)
    m["spark.driver_gap_s"] = (pass_wall - sum(s["counters"]["job_s"] for s in passes)) / sp.passes
    m["spark.cores_busy"] = (sum(s["counters"]["task_run_s"] for s in passes) / (pass_wall * cores)
                             if pass_wall else 0.0)

    # the workload's own end-to-end view, from the untraced passes
    mb = work.get("mb", 0.0)
    m["load_mb_per_s"] = mb / wall_u if wl == "release_load" else 0.0
    m["db_load_p50_s"] = _median(smp.get("db_load", [])) / 1e3
    m["stored_bytes_per_input_byte"] = (
        work["stored_bytes"] / work["input_bytes"] if work.get("input_bytes")
        else work["final_stored_bytes"] / work["final_live_bytes"] if work.get("final_live_bytes")
        else 0.0)
    m["dml_p50_ms"] = _median(smp.get("dml", []))
    m["dml_tail_ms"] = tail_value(smp.get("dml", [])) or 0.0
    m["read_p50_ms"] = _median(smp.get("read", []))
    m["read_tail_ms"] = tail_value(smp.get("read", [])) or 0.0
    m["written_bytes_per_changed_byte"] = (
        work.get("written_bytes", 0.0) / (mb * 1e6) if wl == "release_sync" and mb else 0.0)
    m["lag_p50_ms"] = _median(smp.get("lag", []))
    m["lag_tail_ms"] = tail_value(smp.get("lag", [])) or 0.0
    m["docs_per_s"] = work.get("docs", 0.0) / wall_u
    m["error_rate"] = r["failed"] / r["attempted"]

    walls_t = [w for _, t, w in r["passes"] if t]
    walls_u = [w for _, t, w in r["passes"] if not t]
    m["trace.overhead_pct"] = (statistics.median(walls_t) / statistics.median(walls_u) - 1) * 100
    return m


def trace_file(r, layers, cores):
    """Spans with self time, the per-layer metrics with their bases, and the
    per-operation sample summaries."""
    st = self_times(r["spans"])
    spans = [dict(s, self_s=st[s["id"]]) for s in r["spans"]]
    by_layer = {}
    for s in spans:
        if s["name"] == "pass":
            continue
        a = by_layer.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                            **{k: 0.0 for k in SPARK_KEYS}})
        a["calls"] += 1
        a["wall_s"] += s["dur_s"]
        a["self_s"] += s["self_s"]
        for k in SPARK_KEYS:
            a[k] += s["counters"][k]
    scans = [s for s in spans if s["name"] == "scan"]
    batches = r["stream_batches"]
    return {
        "workload": r["workload"], "seed": r["seed"], "cores": cores,
        "passes": r["passes"],
        "layers": by_layer,
        "metrics": layers,
        "bases": {
            "scan.files_skipped_ratio": {
                "files_read": sum(s["attrs"].get("files_read", 0) for s in scans),
                "files_total": sum(s["attrs"].get("files_total", 0) for s in scans)},
            "stream.data_batches_ratio": {
                "data_batches": sum(1 for b in batches if b["rows"] > 0),
                "triggers": len(batches)},
            "error_rate": {"failed": r["failed"], "attempted": r["attempted"]},
        },
        "samples": {k: summarize(v) for k, v in r["samples"].items()},
        "spans": spans,
    }
