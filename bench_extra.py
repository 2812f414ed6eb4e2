"""Extra benchmarks for the optimization rounds (bench.py is frozen for
measurement — this file holds the per-query timings and plan captures
OPTIMIZATION_r06.md cites; guide §1.4/§1.5). The replay loop's
per-phase costs come from the traced catchup run of perfbench
(`python3 perfbench/run.py --workload catchup --seed N --trace 1`,
the `replay.*` metrics of its `wire_replay` phase).

Usage:
    python bench_extra.py headline [reps] [query ...]   # time + plans
    python bench_extra.py explain <out_suffix> [query ...]  # plans only

`headline` mimics bench.run_headline exactly (same session, same
`.count()` action, min-of-reps) but optionally restricts to a query
subset and writes `.explain("formatted")` to plans/r06/.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dm_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")

HEADLINE = [
    "cdc_replay_merge",
    "cdc_replay_filtered",
    "cdc_shard_merge_mapped",
    "cdc_key_change_replay",
    "cdc_dedup_lww",
    "cdc_ddl_evolution",
    "cdc_wire_decode",
    "events_sessionize",
    "doc_minhash_lsh",
    "doc_ngram_jaccard",
    "emb_ann_lsh",
    "emb_ann_ivf",
    "emb_near_dup_lsh",
]


def _spark():
    return get_spark("bench_extra", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))


def _capture_plan(df, name: str, suffix: str) -> None:
    os.makedirs(PLAN_DIR, exist_ok=True)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(PLAN_DIR, f"{name}_{suffix}.txt"), "w") as f:
        f.write(plan)


def run_headline(reps: int, names: list[str], plan_suffix: str | None) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    times: dict[str, float] = {}
    for r in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"headline:{name}:rep{r}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            _ = df.count()
            dt = round(time.time() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
            print(f"rep{r} {name}: {dt}s", file=sys.stderr)
    if plan_suffix:
        for name in names:
            _capture_plan(qs[name](spark, SF_DIR), name, plan_suffix)
    print(json.dumps({"queries": times, "total": round(sum(times.values()), 3)}))
    spark.stop()


def run_explain(suffix: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    for name in names:
        _capture_plan(qs[name](spark, SF_DIR), name, suffix)
        print(f"plan captured: {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "headline"
    if cmd == "headline":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
        names = sys.argv[3:] or HEADLINE
        run_headline(reps, names, os.environ.get("DM_BENCH_PLAN_SUFFIX"))
    elif cmd == "explain":
        suffix = sys.argv[2]
        names = sys.argv[3:] or HEADLINE
        run_explain(suffix, names)
    else:
        raise SystemExit(f"unknown command {cmd}")
