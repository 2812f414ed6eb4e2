"""Streaming + DDL: schema evolution arriving mid-stream, applied at
its exact location across micro-batch boundaries (the incremental_mode
+ shardddl streaming analog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.plans import DdlEvent, ReplayRunner
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.streaming import CdcStreamDriver

from tests.test_pipeline_e2e import KEY, SCHEMA, duck_replay


def test_stream_with_mid_feed_rename(spark, sf_dir, tmp_path):
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    mm = feed.agg(F.min("pos"), F.max("pos")).collect()[0]
    mid_pos = (mm[0] + mm[1]) // 2
    ddls = [
        DdlEvent("rename_column", "shard_0.transcripts_0", 0, mid_pos,
                 column="tool", new_name="tool_name")
    ]
    drv = CdcStreamDriver(
        spark,
        feed_dir=str(tmp_path / "feed"),
        checkpoint_dir=str(tmp_path / "cp"),
        pipeline=runner.pipeline,
        lakes={"transcripts": lake},
        max_files_per_trigger=2,
        runner=runner,
        ddl_events=ddls,
    )
    write_feed_chunks(feed, drv.feed_dir, n_chunks=6)
    stats = drv.run_available_now()
    assert sum(s.get("ddls", 0) for s in stats) == 1

    got = (
        lake.read()
        .select("conv_id", "turn_idx", "role", "text", "tool_name", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = duck_replay(sf_dir).rename(columns={"tool": "tool_name"})
    assert len(got) == len(want)
    for c in ["conv_id", "turn_idx", "role", "text", "tool_name"]:
        assert (got[c].fillna("~") == want[c].fillna("~")).all(), c
    assert "tool_name" in lake.read().columns and "tool" not in lake.read().columns


def test_stream_optimistic_shard_ddl_mid_feed(spark, sf_dir, tmp_path):
    """Optimistic mode under the streaming driver: shard_0 announces
    add_column mid-stream; the derived ALTER applies between batches
    with no barrier, shards 1-3 keep writing the old shape, final state
    matches the replay oracle with the new column null-filled."""
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(
        pipeline=ApplyPipeline(cfg),
        lake=lake,
        optimistic_group=[f"shard_{i}.transcripts_{j}" for i in range(4) for j in range(2)],
    )
    feed = feedmod.change_feed(spark, sf_dir)
    mm = feed.agg(F.min("pos"), F.max("pos")).collect()[0]
    mid_pos = (mm[0] + mm[1]) // 2
    ddls = [
        DdlEvent("add_column", "shard_0.transcripts_0", 0, mid_pos,
                 column="rating", new_type="int")
    ]
    drv = CdcStreamDriver(
        spark,
        feed_dir=str(tmp_path / "feed"),
        checkpoint_dir=str(tmp_path / "cp"),
        pipeline=runner.pipeline,
        lakes={"transcripts": lake},
        max_files_per_trigger=2,
        runner=runner,
        ddl_events=ddls,
    )
    write_feed_chunks(feed, drv.feed_dir, n_chunks=6)
    stats = drv.run_available_now()
    assert sum(s.get("ddls", 0) for s in stats) == 1
    # the ALTER was DERIVED via schema join, applied at the DDL's loc
    log = lake.applied_ddl_log()
    assert [(d["action"], d["column"]) for d in log] == [("add_column", "rating")]
    assert "rating" in lake.read().columns
    got = (
        lake.read()
        .select("conv_id", "turn_idx", "text", "rating")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = duck_replay(sf_dir)
    assert len(got) == len(want)
    assert (got["text"] == want["text"]).all()
    assert got["rating"].isna().all()  # sources never emitted it


def test_runner_state_persists_across_driver_restart(spark, sf_dir, tmp_path):
    """Sharding-meta durability under the streaming driver: after a
    runner-mode run, runner_state.json sits in the checkpoint dir
    (written atomically after each batch), and a NEW driver over the
    same checkpoint restores the coordination state (rename chains,
    applied-DDL log) into its fresh runner before any batch runs."""
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    mm = feed.agg(F.min("pos"), F.max("pos")).collect()[0]
    ddls = [
        DdlEvent("rename_column", "shard_0.transcripts_0", 0, (mm[0] + mm[1]) // 2,
                 column="tool", new_name="tool_name")
    ]
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), runner.pipeline,
        {"transcripts": lake}, max_files_per_trigger=3, runner=runner, ddl_events=ddls,
    )
    write_feed_chunks(feed, drv.feed_dir, n_chunks=6)
    drv.run_available_now()
    assert runner.rename_map  # the rename chain exists in live state

    # restart: fresh runner, same checkpoint — state must come back
    runner2 = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    drv2 = CdcStreamDriver(
        spark, drv.feed_dir, str(tmp_path / "cp"), runner2.pipeline,
        {"transcripts": lake}, max_files_per_trigger=3, runner=runner2, ddl_events=[],
    )
    assert runner2.rename_map == runner.rename_map
    assert runner2.applied_ddl == runner.applied_ddl[-200:]
    stats = drv2.run_available_now()  # nothing new to do; no crash
    assert all(s.get("ddls", 0) == 0 for s in stats)


def test_inline_query_event_ddl(spark, sf_dir, tmp_path):
    """In-band DDL: an `ALTER TABLE ... ADD COLUMN` written INTO the
    relay feed as a query event (op='Q', SQL in after.text — the
    QueryEvent.Query payload, syncer/syncer.go:2253) is parsed and
    applied at its exact location by the runner-mode driver, no
    side-channel ddl_events list. DML state still matches the oracle;
    an unparseable statement at a skip-marked location is dropped."""
    from tests.test_pipeline_e2e import assert_tables_equal

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    mm = feed.agg(F.min("pos"), F.max("pos")).collect()[0]
    mid = int((mm[0] + mm[1]) // 2)

    # the ALTER shares (0, mid) with a DML — harmless WITHOUT an error
    # op there (entanglement only bites location-surgical operators);
    # the unparseable statement sits at the unoccupied (1, 0)
    q_rows = feedmod.query_events(spark, [
        ("ALTER TABLE shard_0.transcripts_0 ADD COLUMN rating INT",
         "shard_0.transcripts_0", 0, mid),
        ("OPTIMIZE TABLE whatever", "shard_0.transcripts_0", 1, 0),
    ])
    runner.error_ops.set_skip(1, 0)

    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), runner.pipeline,
        {"transcripts": lake}, max_files_per_trigger=3, runner=runner,
    )
    write_feed_chunks(feed.unionByName(q_rows), drv.feed_dir, n_chunks=6)
    stats = drv.run_available_now()
    assert sum(s.get("ddls", 0) for s in stats) == 1  # parsed ALTER only

    assert "rating" in lake.read().columns
    got = (
        lake.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert_tables_equal(got, duck_replay(sf_dir))


def test_inline_ddl_storm_fails_loudly_in_bounded_memory(spark, tmp_path):
    """A DDL storm (gh-ost backfill / migration replay emitting
    thousands of query events in one micro-batch) must not become a
    driver-OOM vector: the op='Q' collect is limit()-bounded at the cap
    and past it the driver raises with a clear remedy instead of
    collecting everything (VERDICT r03 #2; the reference handles one
    query event at a time, syncer/syncer.go:2154)."""
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=4)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), runner.pipeline,
        {"transcripts": lake}, runner=runner,
    )
    storm = feedmod.query_events(spark, [
        (f"ALTER TABLE shard_0.t ADD COLUMN c{i} INT", "shard_0.t", 5, i)
        for i in range(10_000)
    ])
    with pytest.raises(RuntimeError, match="DDL storm"):
        drv._extract_inline_ddl(storm)
    # under the cap the same path still parses fine
    few = feedmod.query_events(spark, [
        ("ALTER TABLE shard_0.t ADD COLUMN r INT", "shard_0.t", 5, 1),
    ])
    assert len(drv._extract_inline_ddl(few)) == 1


def test_trailing_side_channel_ddl_applies_at_drain(spark, sf_dir, tmp_path):
    """A scheduled DDL located past the feed's last event must not be
    silently discarded by the per-batch due-filter: AvailableNow drain
    is its flush point."""
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    mx = feed.selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
    trailing = DdlEvent(
        "add_column", "shard_0.transcripts_0", mx["file_seq"] + 1, 0,
        column="rating", new_type="int",
    )
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), runner.pipeline,
        {"transcripts": lake}, max_files_per_trigger=3, runner=runner,
        ddl_events=[trailing],
    )
    write_feed_chunks(feed, drv.feed_dir, n_chunks=4)
    stats = drv.run_available_now()
    assert "rating" in lake.read().columns
    assert any(s.get("trailing") for s in stats)
    assert drv.ddl_events == []


def test_side_channel_ddl_survives_failed_batch(spark, sf_dir, tmp_path, monkeypatch):
    """A batch that fails mid-replay (a stop interrupting its merge)
    replays from the stream checkpoint: the side-channel DDLs it was
    due to apply must still be queued then, or the schema change is
    lost for good."""
    from tests.test_pipeline_e2e import assert_tables_equal

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    lo, hi = feed.agg(F.min("pos"), F.max("pos")).collect()[0]
    ddl = DdlEvent("add_column", "shard_0.transcripts_0", 0, int((lo + hi) // 2),
                   column="rating", new_type="int")
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), runner.pipeline,
        {"transcripts": lake}, max_files_per_trigger=10, runner=runner,
        ddl_events=[ddl],
    )
    write_feed_chunks(feed, drv.feed_dir, n_chunks=2)
    replay = ReplayRunner.replay

    def fail_once(self, env, due, **gate):
        monkeypatch.setattr(ReplayRunner, "replay", replay)
        raise RuntimeError("interrupted mid-merge")

    monkeypatch.setattr(ReplayRunner, "replay", fail_once)
    with pytest.raises(Exception, match="interrupted mid-merge"):
        drv.run_available_now()
    drv.run_available_now()  # the failed batch replays
    assert [d["column"] for d in lake.applied_ddl_log()] == ["rating"]
    assert drv.ddl_events == []
    got = (
        lake.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert_tables_equal(got, duck_replay(sf_dir))
