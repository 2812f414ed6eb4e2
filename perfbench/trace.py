"""Outside-in tracing for the benchmark's traced run.

Spans are recorded in the benchmark process around calls into the
engine's public entry points (patched onto the classes for the traced
run only; no engine code changes). Each span has an id, a name, a
start, an end, a thread and a parent; spans stay in memory and are
written out when the run ends. Spark engine counters come from a local
Spark event log and are attributed to spans afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time


class NullTracer:
    """Tracing off: phases still call `span`, which records nothing."""

    spans: tuple = ()

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}

    def set_default_parent(self, span: dict) -> None:
        pass


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened on a thread with no open span of its
        # own (the streaming callback thread)
        self._default_parent: int | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_default_parent(self, span: dict) -> None:
        self._default_parent = span.get("id")

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1]["id"] if stack else self._default_parent
        sp = {
            "id": next(self._ids), "parent": parent, "name": name,
            "thread": threading.current_thread().name,
            "start": time.time(), "end": None, "attrs": {},
        }
        stack.append(sp)
        try:
            yield sp
        except BaseException as e:
            sp["error"] = type(e).__name__
            raise
        finally:
            sp["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace `owner.attr` with a wrapper that records a span per
        call; `on_result(span, result)` adds counts from the return."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name) as sp:
                res = orig(*a, **kw)
                if on_result is not None:
                    on_result(sp, res)
                return res

        setattr(owner, attr, wrapper)

    def by_name(self, name: str) -> list[dict]:
        return sorted((s for s in self.spans if s["name"] == name), key=lambda s: s["start"])

    def self_times(self) -> dict[str, float]:
        """Per span name: summed self time, i.e. span time minus the
        part of its interval that its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"]
            )
            s["self_s"] = (s["end"] - s["start"]) - covered
            out[s["name"]] = out.get(s["name"], 0.0) + s["self_s"]
        return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def instrument(tracer: Tracer) -> None:
    """Spans around the engine's layer entry points."""
    from dm_spark.lake import LakeTable
    from dm_spark.operators import ApplyPipeline
    from dm_spark.plans import ReplayRunner
    from dm_spark.sources import relay
    from dm_spark.streaming import CdcStreamDriver
    from dm_spark.task import Task

    def merge_counts(sp, st):
        sp["attrs"].update(
            version=st.version, skipped=st.skipped, n_incoming=st.n_incoming,
            rows_written=st.rows_written, buckets_touched=st.n_buckets_touched,
        )

    tracer.patch(Task, "run_incremental", "task.run_incremental")
    tracer.patch(CdcStreamDriver, "run_available_now", "driver.run_available_now")
    tracer.patch(CdcStreamDriver, "run_continuous", "driver.run_continuous")
    # the foreachBatch callback: one span per micro-batch
    tracer.patch(CdcStreamDriver, "_apply", "driver.batch")
    tracer.patch(ApplyPipeline, "transform", "operators.transform")
    tracer.patch(LakeTable, "merge_into", "lake.merge_into", merge_counts)
    tracer.patch(LakeTable, "compact", "lake.compact")
    tracer.patch(LakeTable, "read", "lake.read")
    # runner mode: one span per replayed range and per schema change
    tracer.patch(ReplayRunner, "apply_dml_batch", "replay.apply_dml_batch")
    tracer.patch(ReplayRunner, "handle_ddl", "replay.handle_ddl")
    tracer.patch(LakeTable, "apply_ddl", "schema.apply_ddl")
    tracer.patch(relay, "write_feed_chunks", "sources.write_feed_chunks")


# ------------------------------------------------------------ event log
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the Spark event log, each with its submission and
    completion time (epoch seconds), job group and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job": jid, "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "group": props.get("spark.jobGroup.id"),
                        "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_bytes": 0, "result": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                        j["result"] = (ev.get("Job Result") or {}).get("Result")
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        j["failed_tasks"] += 1
                    j["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Give each job to the innermost span whose time window contains it."""
    spans = sorted(tracer.spans, key=lambda s: s["end"] - s["start"])
    for s in spans:
        s.setdefault("jobs", [])
    for j in jobs:
        for s in spans:  # shortest (innermost) first
            if s["start"] <= j["submit"] and j["end"] <= s["end"] + 1e-3:
                s["jobs"].append(j["job"])
                break
