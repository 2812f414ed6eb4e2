"""Per-layer metrics of a traced run, derived from its spans, the Spark
event log, the driver's `batch_stats` and the lake's files.

`LAYER_MAP` records, for each per-layer metric, the end-to-end metric
it should move and on which workload."""

from __future__ import annotations

import os
import statistics

from perfbench.trace import union_length
from perfbench.workloads import dir_bytes, percentile

# metric -> (unit, what it should move)
LAYER_MAP = {
    "session.start_s": ("s", "setup_s on both workloads"),
    "session.warmup_s": ("s", "setup_s on both workloads"),
    "bench.generate_s": ("s", "nothing: input generation, kept out of setup_s"),
    "freshness.p95_s": ("s", "nothing end to end: the 95th percentile of the per-file freshness"),
    "driver.batches": ("count", "events_per_s on catchup"),
    "driver.files_per_batch": ("count", "events_per_s on catchup"),
    "driver.apply_s_p50": ("s", "freshness_p50_s and events_per_s on live_tail"),
    "driver.admit_wait_s_p50": ("s", "freshness_p50_s on live_tail: the wait before a batch admits a file"),
    "driver.gap_s_per_batch": ("s", "freshness_p50_s on live_tail; a small share of events_per_s on catchup"),
    "driver.failed_batches": ("count", "failed on both workloads"),
    "operators.transform_call_s": ("s", "freshness_p50_s on live_tail (driver-side plan build)"),
    "operators.rows_out_per_event": ("ratio", "events_per_s on catchup (key-move split ratio)"),
    "lake.merge_s_p50": ("s", "freshness_p50_s and events_per_s on live_tail, events_per_s on catchup"),
    "lake.merge_jobs_per_call": ("count", "freshness_p50_s on live_tail, events_per_s on catchup"),
    "lake.merge_driver_s": ("s", "freshness_p50_s on live_tail, events_per_s on catchup (merge wall outside Spark jobs)"),
    "lake.rows_written_per_row_in": ("ratio", "events_per_s on catchup, reader.read_s_p50 on live_tail"),
    "lake.bytes_written_per_input_byte": ("ratio", "events_per_s on catchup, reader.read_s_p50 on live_tail"),
    "lake.buckets_touched_per_merge": ("count", "events_per_s on catchup, reader.read_s_p50 on live_tail"),
    "lake.compactions": ("count", "events_per_s on live_tail and freshness.p95_s (the files a compaction delays)"),
    "lake.compact_s_p50": ("s", "events_per_s on live_tail and freshness.p95_s (the files a compaction delays)"),
    "lake.files_per_bucket_max": ("count", "reader.read_s_p50 on live_tail"),
    "lake.manifest_bytes_per_commit": ("B", "freshness_p50_s on live_tail (a per-commit checksum would show here)"),
    "reader.read_s_p50": ("s", "nothing end to end: the median full-table read (MoR on live_tail, CoW on catchup)"),
    "reader.reads": ("count", "nothing: the number of reads reader.read_s_p50 is the median of"),
    "publisher.late_s_max": ("s", "nothing: how late the open-loop generator ran"),
    "decode.wire_decode_s": ("s", "nothing end to end: catchup's wire_replay phase (wire read, decode, relay write)"),
    "replay.batches": ("count", "nothing end to end: catchup's wire_replay phase"),
    "replay.apply_dml_batch_s": ("s", "nothing end to end: catchup's wire_replay phase (median per replayed range)"),
    "replay.jobs_per_range": ("count", "nothing end to end: catchup's wire_replay phase"),
    "replay.events_per_s": ("ev/s", "nothing end to end: catchup's wire_replay phase (events over its runner drain)"),
    "schema.apply_ddl_calls": ("count", "nothing end to end: catchup's wire_replay phase"),
    "schema.apply_ddl_s": ("s", "nothing end to end: catchup's wire_replay phase"),
    "spark.jobs": ("count", "events_per_s on catchup, freshness_p50_s on live_tail"),
    "spark.tasks": ("count", "events_per_s on catchup, freshness_p50_s on live_tail"),
    "spark.failed_tasks": ("count", "failed on both workloads"),
    "spark.executor_run_s": ("s", "events_per_s on both workloads"),
    "spark.core_busy_ratio": ("ratio", "events_per_s on catchup"),
    "spark.shuffle_write_bytes_per_event": ("B", "events_per_s on both workloads"),
    "spark.gc_s": ("s", "events_per_s on both workloads"),
    "proc.peak_rss_mb": ("MB", "nothing end to end: peak RSS of the Spark JVM and its Python workers"),
    "trace.spans": ("count", "nothing: size of the trace"),
}
# the end-to-end metrics again, measured with tracing on: the traced
# minus untraced difference is the tracing overhead
TRACED = {"setup_s": "s", "events_per_s": "ev/s", "freshness_p50_s": "s"}
for _m, _u in TRACED.items():
    LAYER_MAP[f"traced.{_m}"] = (_u, "nothing: measured with tracing on")


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def per_layer(tracer, jobs: list[dict], res: dict, e2e: dict, cores: int, peak_rss: int) -> dict:
    (measure,) = tracer.by_name("measure")
    lo, hi = measure["start"], measure["end"]

    def inside(name):
        return [s for s in tracer.by_name(name) if s["start"] >= lo and s["end"] <= hi]

    def one(name):
        spans = tracer.by_name(name)
        return _dur(spans[0]) if spans else 0.0

    job_by_id = {j["job"]: j for j in jobs}
    batches = inside("driver.batch")
    merges = [s for s in inside("lake.merge_into") if not s["attrs"].get("skipped")]
    compacts = inside("lake.compact")
    events = res["events"]
    stats = [b for b in res["batch_stats"] if "sec" in b]

    # a file's committing batch: the last batch started before its commit
    admit = []
    for due, fresh in zip(res["due"], res["fresh"]):
        if fresh is None:
            continue
        seen = due + fresh
        idx = max((i for i, b in enumerate(batches) if b["start"] <= seen), default=None)
        if idx is not None and idx < len(stats):
            admit.append(fresh - stats[idx]["sec"])
    gaps = [b2["start"] - b1["end"] for b1, b2 in zip(batches, batches[1:])]

    def merge_driver(s):
        iv = [(job_by_id[j]["submit"], job_by_id[j]["end"]) for j in s["jobs"]]
        return _dur(s) - union_length(iv, s["start"], s["end"])

    n_in = sum(s["attrs"]["n_incoming"] for s in merges)
    meta = res["lake"]._load_meta()
    window = [j for j in jobs if j["submit"] >= lo and j["end"] <= hi]
    relay_bytes = sum(os.path.getsize(f) for f in res["files"])
    # catchup's wire_replay phase (absent on live_tail: all zero)
    ranges = tracer.by_name("replay.apply_dml_batch")
    ddls = tracer.by_name("schema.apply_ddl")
    replay_s = sum(_dur(s) for s in tracer.by_name("replay"))
    replay_events = (res["replay"] or {}).get("events", 0)
    out = {
        "session.start_s": one("session.start"),
        "session.warmup_s": one("session.warmup"),
        "bench.generate_s": one("bench.generate"),
        "freshness.p95_s": percentile([f for f in res["fresh"] if f is not None] or [0.0], 0.95),
        "driver.batches": len(batches),
        "driver.files_per_batch": len(res["files"]) / max(1, len(batches)),
        "driver.apply_s_p50": _median([b["sec"] for b in stats]),
        "driver.admit_wait_s_p50": _median(admit),
        "driver.gap_s_per_batch": _median(gaps),
        "driver.failed_batches": sum(1 for b in batches if b.get("error")),
        "operators.transform_call_s": _median([_dur(s) for s in inside("operators.transform")]),
        "operators.rows_out_per_event": n_in / max(1, events),
        "lake.merge_s_p50": _median([_dur(s) for s in merges]),
        "lake.merge_jobs_per_call": sum(len(s["jobs"]) for s in merges) / max(1, len(merges)),
        "lake.merge_driver_s": _median([merge_driver(s) for s in merges]),
        "lake.rows_written_per_row_in": sum(s["attrs"]["rows_written"] for s in merges) / max(1, n_in),
        "lake.bytes_written_per_input_byte": dir_bytes(res["lake"].data_dir) / max(1, relay_bytes),
        "lake.buckets_touched_per_merge": _median([s["attrs"]["buckets_touched"] for s in merges]),
        "lake.compactions": len(compacts),
        "lake.compact_s_p50": _median([_dur(s) for s in compacts]),
        "lake.files_per_bucket_max": max(len(v) for v in meta.buckets.values()),
        "lake.manifest_bytes_per_commit": dir_bytes(res["lake"].meta_dir) / (meta.version + 1),
        "reader.read_s_p50": _median(res["reads"]),
        "reader.reads": len(res["reads"]),
        "publisher.late_s_max": max(res["publisher_late"]),
        "decode.wire_decode_s": one("decode"),
        "replay.batches": (res["replay"] or {}).get("batches", 0),
        "replay.apply_dml_batch_s": _median([_dur(s) for s in ranges]),
        "replay.jobs_per_range": sum(
            1 for s in ranges for j in jobs
            if s["start"] <= j["submit"] and j["end"] <= s["end"] + 1e-3
        ) / max(1, len(ranges)),
        "replay.events_per_s": replay_events / replay_s if replay_s else 0.0,
        "schema.apply_ddl_calls": len(ddls),
        "schema.apply_ddl_s": sum(_dur(s) for s in ddls),
        "spark.jobs": len(window),
        "spark.tasks": sum(j["tasks"] for j in window),
        "spark.failed_tasks": sum(j["failed_tasks"] for j in window),
        "spark.executor_run_s": sum(j["run_s"] for j in window),
        "spark.core_busy_ratio": sum(j["run_s"] for j in window) / ((hi - lo) * cores),
        "spark.shuffle_write_bytes_per_event": sum(j["shuffle_write_bytes"] for j in window) / max(1, events),
        "spark.gc_s": sum(j["gc_s"] for j in window),
        "proc.peak_rss_mb": peak_rss / 2**20,
        "trace.spans": len(tracer.spans),
    }
    for m in TRACED:
        out[f"traced.{m}"] = e2e[m][0]
    return {k: (v, LAYER_MAP[k][0]) for k, v in out.items()}


def span_table(tracer, jobs: list[dict]) -> dict:
    """Per span name: calls, total and self seconds, and the Spark jobs,
    tasks and executor seconds attributed to it."""
    self_s = tracer.self_times()
    job_by_id = {j["job"]: j for j in jobs}
    out: dict[str, dict] = {}
    for s in tracer.spans:
        row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "jobs": 0, "tasks": 0, "executor_run_s": 0.0})
        row["calls"] += 1
        row["total_s"] += _dur(s)
        for j in s.get("jobs", []):
            row["jobs"] += 1
            row["tasks"] += job_by_id[j]["tasks"]
            row["executor_run_s"] += job_by_id[j]["run_s"]
    for name, row in out.items():
        row["self_s"] = self_s[name]
    return out
