"""Lake change feed (CDC-out, the Delta CDF analog): a table created
with change_feed=True re-emits every merge's applied change rows via
lake.changes(from_v, to_v), so downstream pipelines consume incremental
deltas instead of rescanning. The governing law: replaying the emitted
feed into a SECOND lake converges to the first lake's exact state
(LWW on the same lineage ordering).

Reference analog: none in pingcap/dm (it consumes CDC, never emits) —
this is the lake-side closure that lets dm_spark pipelines chain."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dm_spark.lake import LakeTable

SCHEMA = [("k", "string"), ("v", "int"), ("txt", "string")]


def _ev(spark, rows):
    """rows: (op, k, v, txt, file_seq, pos)"""
    df = spark.createDataFrame(
        [(op, k, v, t, fs, pos) for op, k, v, t, fs, pos in rows],
        "op string, k string, v int, txt string, _cdc_file_seq long, _cdc_pos long",
    )
    return df.withColumn(
        "_cdc_ts", F.timestamp_seconds(F.lit(1700000000) + F.col("_cdc_pos"))
    )


def _state(lake):
    return {(r.k, r.v, r.txt) for r in lake.read().select("k", "v", "txt").collect()}


def _mk(spark, tmp_path, name, **kw):
    return LakeTable.create(spark, str(tmp_path / name), SCHEMA, ["k"], n_buckets=4, **kw)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_change_feed_chain_reproduces_state(spark, tmp_path, mode):
    """The chain law: lake1 -> changes() -> lake2 gives lake2 == lake1,
    including deletes and multi-batch LWW overwrites."""
    src = _mk(spark, tmp_path, f"src_{mode}", write_mode=mode, change_feed=True)
    src.merge_into(_ev(spark, [
        ("I", "a", 1, "a1", 0, 1), ("I", "b", 1, "b1", 0, 2), ("I", "c", 1, "c1", 0, 3),
    ]), batch_id=0)
    src.merge_into(_ev(spark, [
        ("U", "a", 2, "a2", 1, 1), ("D", "b", None, None, 1, 2),
    ]), batch_id=1)
    src.merge_into(_ev(spark, [("I", "d", 4, "d4", 2, 1)]), batch_id=2)

    dst = _mk(spark, tmp_path, f"dst_{mode}", write_mode=mode)
    dst.merge_into(src.changes())
    assert _state(dst) == _state(src)
    assert ("b", 1, "b1") not in _state(dst)  # the delete propagated


def test_change_feed_incremental_consumption(spark, tmp_path):
    """A consumer reading [1..k] then (k..head] sees the same end state
    as one reading everything — the bounded-window consumption shape a
    production subscriber uses."""
    src = _mk(spark, tmp_path, "src_inc", change_feed=True)
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1), ("I", "b", 1, "b1", 0, 2)]), batch_id=0)
    v_mid = src._head_version()
    src.merge_into(_ev(spark, [("U", "a", 2, "a2", 1, 1), ("D", "b", None, None, 1, 2)]), batch_id=1)

    dst = _mk(spark, tmp_path, "dst_inc")
    dst.merge_into(src.changes(1, v_mid), batch_id=0)
    assert ("b", 1, "b1") in _state(dst)  # mid-stream state includes b
    dst.merge_into(src.changes(v_mid + 1), batch_id=1)
    assert _state(dst) == _state(src)


def test_mor_change_feed_is_free(spark, tmp_path):
    """MoR delta files double as the change set: every change entry
    must point at a delta file the manifest already owns (no extra
    write), and changes() must carry the batch's change rows,
    tombstones included — the same contract as the CoW feed."""
    src = _mk(spark, tmp_path, "src_free", write_mode="mor", change_feed=True)
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1), ("D", "a", None, None, 0, 9)]), batch_id=0)
    meta = src._load_meta()
    data_paths = {e["path"] for e in meta.deltas}
    ch_paths = {e["path"] for lst in meta.change_log.values() for e in lst}
    assert ch_paths and ch_paths <= data_paths
    got = sorted((r.op, r.k) for r in src.changes().collect())
    assert got == [("D", "a"), ("I", "a")]  # the batch as merged, not LWW-folded


def test_changes_project_to_current_schema(spark, tmp_path):
    """Changes written BEFORE a DDL read back in today's shape (field-id
    projection) — a consumer that falls behind across a schema change
    still merges cleanly."""
    src = _mk(spark, tmp_path, "src_ddl", change_feed=True)
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1)]), batch_id=0)
    assert src.apply_ddl(
        {"action": "add_column", "column": "rating", "new_type": "int",
         "file_seq": 0, "pos": 5, "suffix": 0}
    )
    got = src.changes()
    assert "rating" in got.columns
    row = got.collect()[0]
    assert row.k == "a" and row.rating is None
    # a rename too: files written under the old name carry the value
    assert src.apply_ddl(
        {"action": "rename_column", "column": "txt", "new_name": "body",
         "file_seq": 0, "pos": 6, "suffix": 0}
    )
    assert {r.body for r in src.changes().collect()} == {"a1"}


def test_prune_changes_and_vacuum(spark, tmp_path):
    """Retention: prune_changes drops the window below the cut; live
    change files survive vacuum(), pruned CoW dirs are removed."""
    src = _mk(spark, tmp_path, "src_prune", change_feed=True)
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1)]), batch_id=0)
    v1 = src._head_version()
    src.merge_into(_ev(spark, [("I", "b", 2, "b2", 1, 1)]), batch_id=1)
    src.vacuum()
    assert {r.k for r in src.changes().collect()} == {"a", "b"}  # vacuum kept live changes
    src.prune_changes(v1 + 1)
    src.vacuum()
    # a consumer behind the retention floor fails LOUDLY (silently
    # skipping a pruned window would diverge the replica)
    with pytest.raises(ValueError, match="pruned below"):
        src.changes()
    assert {r.k for r in src.changes(v1 + 1).collect()} == {"b"}
    change_log = src._load_meta().change_log
    assert all(int(v) > v1 for v in change_log)
    # the pruned window's dir is gone; only live change dirs remain
    ch_root = os.path.join(src.path, "_changes")
    live = {
        os.path.relpath(e["path"], ch_root).split(os.sep)[0]
        for lst in change_log.values() for e in lst
    }
    assert set(os.listdir(ch_root)) == live and len(live) == 1


def test_replicate_lake_stream_chain(spark, tmp_path):
    """Lake-to-lake replication: dst tails src's change feed via
    replicate_lake_poll (one catch-up pass), converging to src's state;
    a second pass under the SAME name picks up only the new changes
    (no double-apply — the batch-id gate is the cursor)."""
    from dm_spark.streaming import replicate_lake_poll

    src = _mk(spark, tmp_path, "src_stream", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_stream")

    src.merge_into(_ev(spark, [
        ("I", "a", 1, "a1", 0, 1), ("I", "b", 1, "b1", 0, 2),
    ]), batch_id=0)
    stats1 = replicate_lake_poll(spark, src, dst, "repl")
    assert _state(dst) == _state(src)

    src.merge_into(_ev(spark, [
        ("U", "a", 2, "a2", 1, 1), ("D", "b", None, None, 1, 2),
    ]), batch_id=1)
    stats2 = replicate_lake_poll(spark, src, dst, "repl")
    assert _state(dst) == _state(src)
    assert ("b", 1, "b1") not in _state(dst)
    # the second run consumed only the delta, not the whole feed
    applied2 = sum(s["n_incoming"] or 0 for s in stats2 if not s["skipped"])
    assert applied2 == 2, (stats1, stats2)


def test_replicate_two_hop_chain(spark, tmp_path):
    """Chains compose: A -> B -> C where B itself has change_feed on —
    B's replication merges emit B's own change feed, and C tailing B
    converges to A's state (the multi-stage derived-table pipeline)."""
    from dm_spark.streaming import replicate_lake_poll

    a = _mk(spark, tmp_path, "hop_a", change_feed=True)
    b = _mk(spark, tmp_path, "hop_b", change_feed=True)
    c = _mk(spark, tmp_path, "hop_c")
    a.merge_into(_ev(spark, [
        ("I", "a", 1, "a1", 0, 1), ("I", "b", 1, "b1", 0, 2),
        ("D", "a", None, None, 0, 3),
    ]), batch_id=0)
    replicate_lake_poll(spark, a, b, "ab")
    replicate_lake_poll(spark, b, c, "bc")
    assert _state(c) == _state(b) == _state(a) == {("b", 1, "b1")}


def test_replicate_syncs_upstream_schema(spark, tmp_path):
    """An upstream DDL (add_column) lands on the replica before the
    merge — without sync the new column would be silently dropped by
    the destination's schema tolerance. Pre-DDL change rows read back
    null-filled; a re-run applies nothing (gated at the DDL high
    water)."""
    from dm_spark.streaming import replicate_lake_poll, sync_replica_schema

    src = _mk(spark, tmp_path, "src_sync", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_sync")
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1)]), batch_id=0)
    assert src.apply_ddl(
        {"action": "add_column", "column": "rating", "new_type": "int",
         "file_seq": 0, "pos": 5, "suffix": 0}
    )
    b2 = spark.createDataFrame(
        [("I", "b", 2, "b2", 9, 1, 2)],
        "op string, k string, v int, txt string, rating int, _cdc_file_seq long, _cdc_pos long",
    ).withColumn("_cdc_ts", F.timestamp_seconds(F.lit(1700000100)))
    src.merge_into(b2, batch_id=1)

    replicate_lake_poll(spark, src, dst, "sync")
    got = {(r.k, r.rating) for r in dst.read().select("k", "rating").collect()}
    assert got == {("a", None), ("b", 9)}
    assert sync_replica_schema(src, dst) == []  # re-run: gated, no-op


def test_replica_validates_against_source(spark, tmp_path):
    """The ops loop a production replica runs: after catch-up, the
    sync_diff-style validator must report zero diff between source and
    replica (bucketed checksums, then row-level on mismatch)."""
    from dm_spark.streaming import replicate_lake_poll
    from dm_spark.validator import table_checksum, table_diff

    src = _mk(spark, tmp_path, "src_val", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_val")
    src.merge_into(_ev(spark, [
        ("I", "a", 1, "a1", 0, 1), ("I", "b", 2, "b2", 0, 2),
        ("U", "a", 3, "a3", 0, 3), ("D", "b", None, None, 0, 4),
    ]), batch_id=0)
    replicate_lake_poll(spark, src, dst, "val")
    assert table_checksum(src.read()) == table_checksum(dst.read())
    d = table_diff(src.read(), dst.read(), key=["k"])
    assert (d["mismatched"], d["missing_left"], d["missing_right"]) == (0, 0, 0), d


def test_replicate_poll_mor_source(spark, tmp_path):
    """Version-cursor replication of a MoR source (change entries live
    inside data commit dirs, read through the manifest). The cursor is
    the destination's batch gate — no checkpoint dir, no cursor file —
    and a repeated poll with no new source versions applies nothing."""
    from dm_spark.streaming import replicate_lake_poll

    src = _mk(spark, tmp_path, "src_poll", write_mode="mor", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_poll")
    src.merge_into(_ev(spark, [
        ("I", "a", 1, "a1", 0, 1), ("I", "b", 1, "b1", 0, 2),
    ]), batch_id=0)
    s1 = replicate_lake_poll(spark, src, dst, "r1")
    assert _state(dst) == _state(src) and len(s1) == 1

    src.merge_into(_ev(spark, [
        ("U", "a", 2, "a2", 1, 1), ("D", "b", None, None, 1, 2),
    ]), batch_id=1)
    s2 = replicate_lake_poll(spark, src, dst, "r1")
    assert _state(dst) == _state(src) == {("a", 2, "a2")}
    assert s2[0]["n_incoming"] == 2  # only the delta window was read

    assert replicate_lake_poll(spark, src, dst, "r1") == []  # idle: no-op


def test_replicate_poll_advances_past_ddl_versions(spark, tmp_path):
    """A DDL-only source version must not wedge the cursor: the poll
    merges an empty window, the gate advances, and the NEXT data window
    flows (plus the schema sync carries the DDL to the replica)."""
    from dm_spark.streaming import replicate_lake_poll

    src = _mk(spark, tmp_path, "src_pddl", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_pddl")
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1)]), batch_id=0)
    replicate_lake_poll(spark, src, dst, "r2")
    assert src.apply_ddl(
        {"action": "add_column", "column": "rating", "new_type": "int",
         "file_seq": 0, "pos": 5, "suffix": 0}
    )
    replicate_lake_poll(spark, src, dst, "r2")
    b2 = spark.createDataFrame(
        [("I", "b", 2, "b2", 7, 1, 1)],
        "op string, k string, v int, txt string, rating int, _cdc_file_seq long, _cdc_pos long",
    ).withColumn("_cdc_ts", F.timestamp_seconds(F.lit(1700000100)))
    src.merge_into(b2, batch_id=1)
    replicate_lake_poll(spark, src, dst, "r2")
    got = {(r.k, r.rating) for r in dst.read().select("k", "rating").collect()}
    assert got == {("a", None), ("b", 7)}


def test_bootstrap_replica_after_retention_loss(spark, tmp_path):
    """A replica that fell out of retention re-seeds from a snapshot:
    poll raises "pruned below", bootstrap_replica plants data + cursor
    in ONE atomic merge (original lineage preserved — a redelivered old
    event must still lose LWW), and subsequent polls resume with only
    the post-snapshot delta."""
    import pytest as _pytest

    from dm_spark.streaming import bootstrap_replica, replicate_lake_poll

    src = _mk(spark, tmp_path, "src_boot", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_boot")
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1)]), batch_id=0)
    src.merge_into(_ev(spark, [("U", "a", 2, "a2", 1, 1), ("I", "b", 1, "b1", 1, 2)]), batch_id=1)
    src.prune_changes(src._head_version() + 1)  # retention window gone

    with _pytest.raises(ValueError, match="pruned below"):
        replicate_lake_poll(spark, src, dst, "boot")

    st = bootstrap_replica(spark, src, dst, "boot")
    assert not st.skipped and _state(dst) == _state(src)
    assert bootstrap_replica(spark, src, dst, "boot").skipped  # idempotent re-run

    # a redelivered OLD event (pre-snapshot lineage) must lose LWW
    dst.merge_into(_ev(spark, [("U", "a", 9, "stale", 0, 0)]))
    assert ("a", 2, "a2") in _state(dst) and ("a", 9, "stale") not in _state(dst)

    # resume: only the post-snapshot delta flows
    src.merge_into(_ev(spark, [("I", "c", 3, "c3", 2, 1)]), batch_id=2)
    s = replicate_lake_poll(spark, src, dst, "boot")
    assert s and s[0]["n_incoming"] == 1
    assert _state(dst) == _state(src)


def test_capstone_ingest_then_replicate_matches_oracle(spark, sf_dir, tmp_path):
    """The full switched-user pipeline in one test: relay feed ->
    streaming driver -> MoR primary lake with change_feed on ->
    version-cursor replication -> replica matches the independent
    DuckDB window-replay oracle AND the primary's checksums. The change
    feed costs the MoR primary nothing (delta files double as the
    change set), so this is the default production topology."""
    from dm_spark.config import RouteRule, TaskConfig
    from dm_spark.operators import ApplyPipeline
    from dm_spark.sources.relay import write_feed_chunks
    from dm_spark.streaming import CdcStreamDriver, replicate_lake_poll
    from dm_spark.validator import table_checksum
    from dm_spark import feed as feedmod
    from tests.test_pipeline_e2e import (
        SCHEMA as T_SCHEMA, KEY as T_KEY, assert_tables_equal, duck_replay, spark_final,
    )

    primary = LakeTable.create(
        spark, str(tmp_path / "primary"), T_SCHEMA, T_KEY, n_buckets=8,
        write_mode="mor", change_feed=True,
    )
    replica = LakeTable.create(
        spark, str(tmp_path / "replica"), T_SCHEMA, T_KEY, n_buckets=8
    )
    feed_dir = str(tmp_path / "feed")
    write_feed_chunks(feedmod.change_feed(spark, sf_dir), feed_dir, n_chunks=4)
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    drv = CdcStreamDriver(
        spark, feed_dir, str(tmp_path / "cp"), ApplyPipeline(cfg),
        {"transcripts": primary}, max_files_per_trigger=2,
    )
    drv.run_available_now()
    replicate_lake_poll(spark, primary, replica, "capstone")

    assert_tables_equal(spark_final(replica), duck_replay(sf_dir))
    assert table_checksum(primary.read()) == table_checksum(replica.read())


def test_chain_through_mid_stream_ddl(spark, tmp_path):
    """Combined axis: a ReplayRunner feed with a mid-stream shard ADD
    COLUMN (flush-before-DDL + barrier) runs against a change-feed
    source lake; the poll replica then syncs the evolved schema and
    drains the pre- and post-DDL change windows — replica equals
    source, schema included."""
    from dm_spark.config import RouteRule, TaskConfig
    from dm_spark.operators import ApplyPipeline
    from dm_spark.plans import DdlEvent, ReplayRunner
    from dm_spark.streaming import replicate_lake_poll
    from tests.test_replay_runner import SCHEMA as R_SCHEMA, KEY as R_KEY, ev

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    src = LakeTable.create(
        spark, str(tmp_path / "src_mid_ddl"), R_SCHEMA, R_KEY,
        n_buckets=4, change_feed=True,
    )
    dst = LakeTable.create(spark, str(tmp_path / "dst_mid_ddl"), R_SCHEMA, R_KEY, n_buckets=4)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=src)
    feed = ev(spark, [
        ("I", "a", 1, "v1", "shard_0.t", 0, 1),
        ("U", "a", 1, "v2", "shard_0.t", 0, 5),
        ("I", "b", 1, "v1", "shard_0.t", 0, 6),
    ])
    runner.replay(feed, [
        DdlEvent("add_column", "shard_0.t", 0, 3, column="rating", new_type="int"),
    ])
    assert "rating" in src.read().columns

    replicate_lake_poll(spark, src, dst, "mid_ddl")
    assert "rating" in dst.read().columns
    pick = lambda lk: {  # noqa: E731
        (r.conv_id, r.turn_idx, r.text, r.rating)
        for r in lk.read().select("conv_id", "turn_idx", "text", "rating").collect()
    }
    assert pick(dst) == pick(src) == {("a", 1, "v2", None), ("b", 1, "v1", None)}


def test_untagged_changes_single_scan(spark, tmp_path):
    """The catch-up plan shape: changes() coalesces the whole window
    into ONE parquet scan (per schema group) instead of one per version
    — the difference between O(1) and O(versions) plans when a replica
    is far behind — and returns every version's rows."""
    src = _mk(spark, tmp_path, "src_scan", change_feed=True)
    for i in range(4):
        src.merge_into(_ev(spark, [("I", f"k{i}", i, f"t{i}", 0, i + 1)]), batch_id=i)

    win = src.changes()
    assert {(r.k, r.v) for r in win.select("k", "v").collect()} == {
        (f"k{i}", i) for i in range(4)
    }
    n_scans = win._jdf.queryExecution().executedPlan().toString().count("FileScan")
    assert n_scans == 1, n_scans


def test_changes_requires_flag(spark, tmp_path):
    src = _mk(spark, tmp_path, "src_off")
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1)]), batch_id=0)
    with pytest.raises(ValueError, match="change feed not enabled"):
        src.changes()
    assert src._load_meta().change_log == {}  # no hidden cost when off


def test_sync_schema_never_narrows_a_wider_replica(spark, tmp_path):
    """Lossless means WIDEN ONLY: a replica column an operator already
    widened past the source must NOT be narrowed back (silent
    truncation on read); the sync skips it and the merge casts up."""
    from dm_spark.streaming import sync_replica_schema

    src = _mk(spark, tmp_path, "src_narrow", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_narrow")
    assert dst.apply_ddl(
        {"action": "widen_type", "column": "v", "new_type": "bigint",
         "file_seq": 9, "pos": 9, "suffix": 0}
    )
    assert sync_replica_schema(src, dst) == []  # src's int must not win
    assert dict((f["name"], f["type"]) for f in dst.schema_fields())["v"] == "bigint"


def test_sync_schema_diverged_types_join_to_widest(spark, tmp_path):
    """When NEITHER side is the widest (dst=bigint vs src=decimal(10,2)
    -> widest=decimal(22,2)) the replica must move to the JOINED type;
    applying src's type verbatim would narrow the bigint and corrupt
    stored values (ADVICE r03 #1)."""
    from dm_spark.streaming import sync_replica_schema

    src = _mk(spark, tmp_path, "src_div", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_div")
    assert src.apply_ddl(
        {"action": "widen_type", "column": "v", "new_type": "decimal(10,2)",
         "file_seq": 9, "pos": 9, "suffix": 0}
    )
    assert dst.apply_ddl(
        {"action": "widen_type", "column": "v", "new_type": "bigint",
         "file_seq": 9, "pos": 9, "suffix": 0}
    )
    applied = sync_replica_schema(src, dst)
    assert [a["new_type"] for a in applied] == ["decimal(22,2)"]
    assert (
        dict((f["name"], f["type"]) for f in dst.schema_fields())["v"]
        == "decimal(22,2)"
    )


def test_truncate_invalidates_change_consumers(spark, tmp_path):
    """A non-DML state reset (TRUNCATE) cannot be expressed as change
    rows: the retention floor rises past it so a poll replica fails
    loudly and re-bootstraps, instead of polling past the reset and
    keeping pre-reset rows forever."""
    from dm_spark.streaming import bootstrap_replica, replicate_lake_poll

    src = _mk(spark, tmp_path, "src_trunc", change_feed=True)
    dst = _mk(spark, tmp_path, "dst_trunc")
    src.merge_into(_ev(spark, [("I", "a", 1, "a1", 0, 1)]), batch_id=0)
    replicate_lake_poll(spark, src, dst, "t")
    src.truncate()
    with pytest.raises(ValueError, match="pruned below"):
        replicate_lake_poll(spark, src, dst, "t")
    bootstrap_replica(spark, src, dst, "t")
    # the bootstrap carries the truncated state... but LWW: dst's old
    # row has real lineage and the empty snapshot has nothing to beat
    # it — a truncate re-bootstrap must start from an EMPTY replica
    # (documented: state resets reset downstream too)
    dst2 = _mk(spark, tmp_path, "dst_trunc2")
    bootstrap_replica(spark, src, dst2, "t2")
    assert _state(dst2) == _state(src) == set()
    src.merge_into(_ev(spark, [("I", "c", 3, "c3", 2, 1)]), batch_id=1)
    replicate_lake_poll(spark, src, dst2, "t2")
    assert _state(dst2) == {("c", 3, "c3")}
