"""Per-shape expression compilation and single-job streaming merges.

The apply pipeline and the lake build their Columns once per schema
(the reference resolves a table's schema once through its tracker,
syncer/syncer.go:2021) and reuse them on every micro-batch; a schema
change (in-band DDL) or a pipeline swap (config_patch) compiles anew,
and the state still matches the DuckDB replay oracle. A merge inside
`foreachBatch` turns AQE off on the session that plans it, so it runs
as one Spark job."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.lake import table as lake_table
from dm_spark.operators import ApplyPipeline
from dm_spark.plans import ReplayRunner
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.streaming import CdcStreamDriver
from dm_spark.task import Task

from tests.test_pipeline_e2e import KEY, SCHEMA, assert_tables_equal, duck_replay, spark_final
from tests.test_streaming_live import _feeder, _stage_chunks

CFG = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])


def _count_calls(monkeypatch, owner, attr) -> list:
    calls = []
    orig = getattr(owner, attr)

    def wrapper(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(owner, attr, wrapper)
    return calls


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_same_shape_batches_compile_once(spark, sf_dir, tmp_path, monkeypatch, mode):
    compiles = _count_calls(monkeypatch, ApplyPipeline, "_compile")
    shapes = _count_calls(monkeypatch, lake_table._Shape, "__init__")
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8, write_mode=mode
    )
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), ApplyPipeline(CFG),
        {"transcripts": lake}, max_files_per_trigger=1,
        compact_every=2 if mode == "mor" else None,
    )
    write_feed_chunks(feedmod.change_feed(spark, sf_dir), drv.feed_dir, n_chunks=4)
    stats = drv.run_available_now()
    assert len([s for s in stats if not s["skipped"]]) >= 3
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))
    # every batch, compaction and the final read reused one entry each
    assert len(compiles) == 1
    assert len(shapes) == 1


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_inband_add_column_and_widen_recompile(spark, sf_dir, tmp_path, monkeypatch, mode):
    """An in-band ADD COLUMN and a key widen (runner mode) each change
    the lake's shape mid-stream: later merges compile for the new
    shape, files written before either DDL read back by field id, and
    the state matches the oracle."""
    shapes = _count_calls(monkeypatch, lake_table._Shape, "__init__")
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8, write_mode=mode
    )
    runner = ReplayRunner(pipeline=ApplyPipeline(CFG), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    lo, hi = feed.agg(F.min("pos"), F.max("pos")).collect()[0]
    q_rows = feedmod.query_events(spark, [
        ("ALTER TABLE shard_0.transcripts_0 ADD COLUMN rating INT",
         "shard_0.transcripts_0", 0, int(lo + (hi - lo) // 3)),
        ("ALTER TABLE shard_0.transcripts_0 MODIFY COLUMN turn_idx BIGINT",
         "shard_0.transcripts_0", 0, int(lo + 2 * (hi - lo) // 3)),
    ])
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), runner.pipeline,
        {"transcripts": lake}, max_files_per_trigger=2, runner=runner,
        compact_every=2 if mode == "mor" else None,
    )
    write_feed_chunks(feed.unionByName(q_rows), drv.feed_dir, n_chunks=6)
    stats = drv.run_available_now()
    assert sum(s.get("ddls", 0) for s in stats) == 2

    out = lake.read()
    types = dict(out.dtypes)
    assert types["turn_idx"] == "bigint" and types["rating"] == "int"
    assert out.where(F.col("rating").isNotNull()).count() == 0
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))
    assert len(shapes) >= 3  # the create shape, then one per DDL


def test_config_patch_route_swap_recompiles(spark, sf_dir, tmp_path, monkeypatch):
    """A route swap builds a new pipeline, which compiles once for the
    envelope shape: later events route by the new rules and both lakes
    match split oracles."""
    compiles = _count_calls(monkeypatch, ApplyPipeline, "_compile")
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    qlake = LakeTable.create(spark, str(tmp_path / "lake_q"), SCHEMA, KEY, n_buckets=8)
    feed_dir = str(tmp_path / "feed")
    staged = _stage_chunks(spark, sf_dir, str(tmp_path / "stage"))
    half, rest = staged[:4], staged[4:]
    b = spark.read.parquet(*half).selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
    routed_away = (
        f"(source_table LIKE 'shard_3.%' AND (file_seq > {b['file_seq']} OR "
        f"(file_seq = {b['file_seq']} AND pos > {b['pos']})))"
    )
    drv = CdcStreamDriver(
        spark, feed_dir, str(tmp_path / "cp"), ApplyPipeline(CFG),
        {"transcripts": lake, "quarantine": qlake}, max_files_per_trigger=2,
    )
    _feeder(half, feed_dir, delay=0)
    drv.run_available_now()
    assert len(compiles) == 1
    drv._apply_op("config_patch", {"routes": [
        {"pattern": "shard_3.transcripts_*", "target": "quarantine"},
        {"pattern": "shard_*.transcripts_*", "target": "transcripts"},
    ]}, paused=True)
    _feeder(rest, feed_dir, delay=0)
    drv.run_available_now()
    assert len(compiles) == 2
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir, f"NOT {routed_away}"))
    assert_tables_equal(spark_final(qlake), duck_replay(sf_dir, routed_away))


def _streaming_merge_jobs(spark, sf_dir, tmp_path, monkeypatch, mode):
    """Catch a feed up into a `mode` lake through `foreachBatch`; the
    Spark jobs of each merge and the top node of each write plan."""
    monkeypatch.delenv("DM_SPARK_MERGE_AQE", raising=False)
    jobs, plans = [], []
    orig_merge, orig_commit = LakeTable.merge_into, LakeTable._commit_files

    def merge_spy(self, changes, *a, **k):
        sc = changes.sparkSession.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        res = orig_merge(self, changes, *a, **k)
        jobs.append(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
        return res

    def commit_spy(self, out, *a, **k):
        plans.append(out._jdf.queryExecution().executedPlan().nodeName())
        return orig_commit(self, out, *a, **k)

    monkeypatch.setattr(LakeTable, "merge_into", merge_spy)
    monkeypatch.setattr(LakeTable, "_commit_files", commit_spy)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8, write_mode=mode
    )
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), ApplyPipeline(CFG),
        {"transcripts": lake}, max_files_per_trigger=1,
    )
    write_feed_chunks(feedmod.change_feed(spark, sf_dir), drv.feed_dir, n_chunks=3)
    stats = drv.run_available_now()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"  # restored
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))
    return jobs, plans, stats


def test_streaming_mor_merge_is_one_non_adaptive_job(spark, sf_dir, tmp_path, monkeypatch):
    """A `foreachBatch` DataFrame runs on the stream's cloned session,
    where AQE is on: the merge must turn AQE off on THAT session, so
    its write plan is not adaptive and the merge runs as one job (an
    adaptive plan runs its shuffle stage as a job of its own)."""
    jobs, plans, _ = _streaming_merge_jobs(spark, sf_dir, tmp_path, monkeypatch, "mor")
    assert jobs and all(len(j) == 1 for j in jobs), jobs
    assert plans and "AdaptiveSparkPlan" not in plans, plans


def test_streaming_cow_merge_is_one_non_adaptive_job(spark, sf_dir, tmp_path, monkeypatch):
    """A copy-on-write catch-up merge runs as one non-adaptive job too:
    the first batch lands in a table with no base files and each later
    one follows a merge that touched every bucket, so no touched-bucket
    pre-pass runs; `batch_stats` still report the true touch count."""
    jobs, plans, stats = _streaming_merge_jobs(spark, sf_dir, tmp_path, monkeypatch, "cow")
    assert len(jobs) >= 3 and all(len(j) == 1 for j in jobs), jobs
    assert plans and "AdaptiveSparkPlan" not in plans, plans
    assert [s["buckets_touched"] for s in stats] == [8] * len(stats), stats


def test_mor_run_tail_compacts(spark, sf_dir, tmp_path):
    """`Task.run_tail(compact_every=N)` folds a merge-on-read lake's
    deltas every N batches, so files per bucket and pending delta
    files stay bounded (a one-file batch appends one delta file)."""
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8, write_mode="mor"
    )
    task = Task(spark, CFG, lake, str(tmp_path / "feed"), str(tmp_path / "cp"))
    staged = _stage_chunks(spark, sf_dir, str(tmp_path / "stage"))
    _feeder(staged, task.feed_dir, delay=0)
    stats = task.run_tail(
        trigger_sec=0.2, timeout_sec=300, max_files_per_trigger=1, compact_every=2,
        stop_when=lambda d: len(d.batch_stats) >= len(staged),
    )
    assert len(stats) == len(staged)
    meta = lake._load_meta()
    assert max(len(files) for files in meta.buckets.values()) <= 2
    assert len(meta.deltas) == len(staged) % 2
    assert sum(1 for r in lake.lineage_log() if "compacted_buckets" in r) == len(staged) // 2
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))


def test_runner_mode_mor_tail_compacts(spark, sf_dir, tmp_path):
    """A driver given its own runner honours `compact_every` as a
    default-constructed one does: every N batches the deltas of its
    lakes fold back into base, and the state still matches the oracle."""
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8, write_mode="mor"
    )
    pipe = ApplyPipeline(CFG)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), pipe, {"transcripts": lake},
        max_files_per_trigger=1, runner=ReplayRunner(pipeline=pipe, lake=lake),
        compact_every=2,
    )
    staged = _stage_chunks(spark, sf_dir, str(tmp_path / "stage"))
    _feeder(staged, drv.feed_dir, delay=0)
    stats = drv.run_available_now()
    assert len(stats) == len(staged) >= 4
    meta = lake._load_meta()
    assert sum(1 for r in lake.lineage_log() if "compacted_buckets" in r) == len(staged) // 2
    assert len(meta.deltas) == len(staged) % 2
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))


def test_batch_stats_share_timing_fields_across_modes(spark, sf_dir, tmp_path):
    """A default-constructed driver ("plain") and one given a runner
    record the same per-batch timing and row-count fields, so one
    monitor reads either."""
    shared = {"batch_id", "sec", "lag_sec", "n_incoming", "rows_written", "buckets_touched"}
    feed = feedmod.change_feed(spark, sf_dir)
    records = {}
    for name in ("plain", "runner"):
        lake = LakeTable.create(spark, str(tmp_path / f"lake_{name}"), SCHEMA, KEY, n_buckets=8)
        pipe = ApplyPipeline(CFG)
        runner = ReplayRunner(pipeline=pipe, lake=lake) if name == "runner" else None
        drv = CdcStreamDriver(
            spark, str(tmp_path / f"feed_{name}"), str(tmp_path / f"cp_{name}"), pipe,
            {"transcripts": lake}, max_files_per_trigger=1, runner=runner,
        )
        write_feed_chunks(feed, drv.feed_dir, n_chunks=2)
        records[name] = drv.run_available_now()
    for name, stats in records.items():
        assert stats, name
        for s in stats:
            assert shared <= set(s), (name, s)
            assert s["sec"] >= 0 and s["lag_sec"] is not None, (name, s)
    # both modes merged the same change rows
    n_in = {name: sum(s["n_incoming"] for s in stats) for name, stats in records.items()}
    assert n_in["plain"] == n_in["runner"] > 0, n_in
    touched = {name: [s["buckets_touched"] for s in stats] for name, stats in records.items()}
    assert touched["plain"] == touched["runner"] and all(touched["plain"]), touched


def test_ddl_free_batch_costs_its_merge_jobs_only(spark, sf_dir, tmp_path, monkeypatch):
    """A default-constructed driver runs every batch through the
    `ReplayRunner`, yet a batch without query events costs what its
    merge costs: the batch's Spark jobs are exactly those of its
    `merge_into` (plus `compact` when due), and nothing is persisted.
    A batch that holds a Q row still cuts at the DDL: two ranges
    merge around it and the column lands at its location."""
    from pyspark.sql import DataFrame

    persists = _count_calls(monkeypatch, DataFrame, "persist")
    jobs: dict[str, list] = {"batch": [], "merge": [], "compact": []}

    def spy(owner, attr, sink):
        orig = getattr(owner, attr)

        def wrapper(*a, **k):
            sc = spark.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            try:
                return orig(*a, **k)
            finally:
                jobs[sink].append(set(sc.statusTracker().getJobIdsForGroup(group)) - before)

        monkeypatch.setattr(owner, attr, wrapper)

    spy(CdcStreamDriver, "_apply", "batch")
    spy(LakeTable, "merge_into", "merge")
    spy(LakeTable, "compact", "compact")
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8, write_mode="mor"
    )
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), ApplyPipeline(CFG),
        {"transcripts": lake}, max_files_per_trigger=1, compact_every=2,
    )
    feed = feedmod.change_feed(spark, sf_dir)
    write_feed_chunks(feed, drv.feed_dir, n_chunks=4)
    stats = drv.run_available_now()
    assert len(stats) == len(jobs["batch"]) == len(jobs["merge"]) == 4
    assert len(jobs["compact"]) == 2 and not persists
    inner = set().union(*jobs["merge"], *jobs["compact"])
    assert all(jobs["merge"]) and set().union(*jobs["batch"]) == inner, jobs
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))

    # one more relay file, holding an ALTER amid its DMLs
    more = feed.withColumn("file_seq", F.col("file_seq") + 1)
    q = feedmod.query_events(spark, [
        ("ALTER TABLE shard_0.transcripts_0 ADD COLUMN rating INT", "shard_0.transcripts_0", 1, 500),
    ])
    write_feed_chunks(more.unionByName(q), str(tmp_path / "more"), n_chunks=1)
    for f in sorted(os.listdir(tmp_path / "more")):
        if f.endswith(".parquet"):
            os.replace(tmp_path / "more" / f, tmp_path / "feed" / f"more-{f}")
    n_merges = len(jobs["merge"])
    (last,) = drv.run_available_now()[4:]
    assert last["ddls"] == 1 and len(jobs["merge"]) - n_merges == 2
    assert [a["pos"] for a in lake._load_meta().applied_ddl] == [500]
    assert "rating" in lake.read().columns
