"""dm_spark benchmark entry point.

    python3 perfbench/run.py --workload catchup|live_tail --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds its inputs from the seed, runs
one workload through the engine's public API on local[nproc], checks
the lake's final state against an independent DuckDB oracle, and
prints as its last stdout line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are
the end-to-end ones; with `--trace 1` the run is traced (spans and a
Spark event log) and the metrics are the per-layer ones. Working files
go under `.perfbench/` in the checkout; each run's full record,
including its trace, is kept in `.perfbench/out/`.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402
from perfbench.trace import NullTracer  # noqa: E402

DEADLINE_S = 170  # the run is killed, children and all, past this
FOREIGN_JVM_WAIT_S = 15


class Ctx:
    """What a workload needs: the session, its scratch dir, the run
    parameters and the phase clock."""

    def __init__(self, spark, work, seed, seconds, cores, tracer, t_start):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.cores, self.tracer, self.t_start = cores, tracer, t_start
        self.traced = not isinstance(tracer, NullTracer)
        self.times: dict[str, float] = {}
        self.setup_s = None

    @contextlib.contextmanager
    def phase(self, name: str):
        """A timed phase of the run. Spans opened on other threads while
        it lasts (the streaming callback) get it as their parent."""
        t0 = time.time()
        with self.tracer.span(name) as sp:
            self.tracer.set_default_parent(sp)
            try:
                yield sp
            finally:
                self.tracer.set_default_parent({})
        self.times[name] = self.times.get(name, 0.0) + time.time() - t0

    def setup_done(self) -> None:
        """Set-up runs from process start to the end of the warm-up,
        less the time spent generating inputs (and, through `t_start`,
        less the wait for a foreign JVM and the stale-scratch cleanup)."""
        self.setup_s = time.time() - self.t_start - self.times.get("bench.generate", 0.0)


def _abort(work: str) -> None:
    print(f"perfbench: run exceeded {DEADLINE_S}s; stopping it", file=sys.stderr)
    procs.stop_tree(procs.descendants(os.getpid()), grace_sec=2.0)
    shutil.rmtree(work, ignore_errors=True)
    os._exit(4)


def _driver_memory() -> str:
    """Below physical RAM: a quarter of it, at most 2 GiB."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(2, phys // 4 // 2**30))}g"


def run(args, work: str, out_dir: str, t_start: float, host_wait_s: float) -> tuple[dict, dict]:
    from perfbench import layers, oracle, trace, workloads
    from dm_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    shuffle_partitions = cores * 4
    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if args.trace:
        conf.update(trace.event_log_conf(f"{work}/eventlog"))
        trace.instrument(tracer)
    steal0 = procs.cpu_steal_ticks()
    sampler = procs.RssSampler()
    sampler.start()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", master=master, shuffle_partitions=shuffle_partitions, extra_conf=conf)
    try:
        ctx = Ctx(spark, work, args.seed, args.seconds, cores, tracer, t_start + host_wait_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        sampler.stop()  # peak memory covers the workload, not the check
        with ctx.phase("check"):
            bad_rows = [oracle.mismatches(*c) for c in res["checks"]]
    finally:
        sampler.stop()
        spark.stop()
        left = procs.stop_tree(procs.descendants(os.getpid()))
    e2e = workloads.end_to_end(res, ctx.setup_s)
    unfresh = sum(1 for f in res["fresh"] if f is None)
    batches = [b for b in res["batch_stats"] if "sec" in b]
    failed_batches = sum(1 for s in tracer.spans if s["name"] == "driver.batch" and s.get("error"))
    replay = res["replay"] or {"batches": 0, "ddls": 0}
    attempted = (
        len(res["files"]) + len(batches) + len(res["reads"]) + replay["batches"] + len(res["checks"])
    )
    failed = unfresh + failed_batches + sum(1 for b in bad_rows if b)
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "master": master,
        "shuffle_partitions": shuffle_partitions,
        "driver_memory": os.environ["DM_SPARK_DRIVER_MEM"],
        "relay_files": len(res["files"]), "events": res["events"], "batches": len(batches),
        "unfresh_files": unfresh, "mismatched_rows": bad_rows, "reads": len(res["reads"]),
        "replay_batches": replay["batches"], "replay_ddls": replay["ddls"],
        "publisher_late_s_max": max(res["publisher_late"]),
        "peak_rss_mb": sampler.peak / 2**20, "rss_samples": sampler.samples,
        "phase_s": ctx.times, "host_wait_s": host_wait_s, "processes_left": left,
        "cpu_steal_s": (procs.cpu_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"),
    }
    record = {
        "info": info, "end_to_end": {k: v[0] for k, v in e2e.items()},
        "freshness_s": res["fresh"], "reads_s": res["reads"], "batch_stats": res["batch_stats"],
    }
    if args.trace:
        jobs = trace.read_event_log(f"{work}/eventlog")
        trace.attribute_jobs(tracer, jobs)
        metrics = layers.per_layer(tracer, jobs, res, e2e, cores, sampler.peak)
        record.update(
            per_layer={k: v[0] for k, v in metrics.items()}, layer_map=layers.LAYER_MAP,
            span_table=layers.span_table(tracer, jobs), spans=tracer.spans, jobs=jobs,
        )
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k][0] - base[k] for k in e2e if k in base}
            print("perfbench: tracing overhead (traced - untraced): "
                  + json.dumps(record["tracing_overhead"]), file=sys.stderr)
    else:
        metrics = e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def main() -> int:
    t_start = procs.process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "live_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "dm_spark", "__init__.py")):
        print(f"perfbench: no dm_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    # the wait for a foreign JVM and the stale-scratch cleanup belong
    # to the host, not the program: they are left out of setup_s
    waited = time.time()
    while procs.foreign_spark_jvms():
        if time.time() - waited > FOREIGN_JVM_WAIT_S:
            print("perfbench: another Spark JVM is running "
                  f"(pids {procs.foreign_spark_jvms()}); refusing to start", file=sys.stderr)
            return 3
        time.sleep(0.5)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    # scratch left by runs that were killed outright
    for stale in glob.glob(os.path.join(base, "work-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    host_wait_s = time.time() - waited
    out_dir = os.path.join(base, "out")
    for d in (f"{work}/tmp", f"{work}/local", out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ.setdefault("DM_SPARK_DRIVER_MEM", _driver_memory())
    watchdog = threading.Timer(max(1.0, DEADLINE_S - (time.time() - t_start)), _abort, args=(work,))
    watchdog.daemon = True
    watchdog.start()
    try:
        result, record = run(args, work, out_dir, t_start, host_wait_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()
    record["result"] = result
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"perfbench": record["info"]}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
