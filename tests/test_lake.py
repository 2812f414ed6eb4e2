"""LakeTable unit tests: MERGE semantics, snapshot isolation,
exactly-once batch gating, schema evolution, time travel, vacuum.

Mirrors the reference's checkpoint/DML-gen unit suites
(syncer/dml_test.go, syncer/checkpoint_test.go) re-expressed as final
table-state assertions.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dm_spark.lake import LakeTable

SCHEMA = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
]
KEY = ["conv_id", "turn_idx"]
CHANGE_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, "
    "op string, _cdc_ts timestamp, _cdc_file_seq long, _cdc_pos long"
)


def T(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def ch(conv, turn, op, text, seq, pos, tsec):
    return (conv, turn, "user", text, None, T(tsec), op, T(tsec), seq, pos)


def rows(df):
    return sorted(
        [(r.conv_id, r.turn_idx, r.text) for r in df.select("conv_id", "turn_idx", "text").collect()]
    )


@pytest.fixture()
def lake(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEY, n_buckets=8)


def test_insert_update_delete(spark, lake):
    b1 = spark.createDataFrame(
        [ch("a", 1, "I", "v1", 0, 1, 1), ch("a", 2, "I", "v1", 0, 2, 2), ch("b", 1, "I", "v1", 0, 3, 3)],
        CHANGE_DDL,
    )
    s = lake.merge_into(b1, batch_id=0)
    assert s.rows_written == 3 and s.n_incoming == 3
    b2 = spark.createDataFrame(
        [ch("a", 1, "U", "v2", 1, 1, 10), ch("b", 1, "D", None, 1, 2, 11), ch("c", 9, "I", "v1", 1, 3, 12)],
        CHANGE_DDL,
    )
    lake.merge_into(b2, batch_id=1)
    assert rows(lake.read()) == [("a", 1, "v2"), ("a", 2, "v1"), ("c", 9, "v1")]


def test_within_batch_lww(spark, lake):
    # same key three times in one batch: latest (by ts, then pos) wins
    b = spark.createDataFrame(
        [
            ch("k", 1, "I", "first", 0, 1, 1),
            ch("k", 1, "U", "second", 0, 2, 2),
            ch("k", 1, "U", "third", 0, 3, 2),  # same ts, higher pos -> wins
        ],
        CHANGE_DDL,
    )
    lake.merge_into(b, batch_id=0)
    assert rows(lake.read()) == [("k", 1, "third")]


def test_delete_then_insert_same_batch(spark, lake):
    b = spark.createDataFrame(
        [ch("k", 1, "I", "a", 0, 1, 1), ch("k", 1, "D", None, 0, 2, 2), ch("k", 1, "I", "b", 0, 3, 3)],
        CHANGE_DDL,
    )
    lake.merge_into(b, batch_id=0)
    assert rows(lake.read()) == [("k", 1, "b")]


def test_exactly_once_batch_gate(spark, lake):
    b = spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL)
    lake.merge_into(b, batch_id=0)
    v = lake._head_version()
    s = lake.merge_into(b, batch_id=0)  # foreachBatch replay after restart
    assert s.skipped and lake._head_version() == v
    assert rows(lake.read()) == [("a", 1, "v1")]


def test_stale_replay_does_not_regress(spark, lake):
    # safe-mode/duplicate-window analog (pkg/streamer/reader.go:42-44):
    # re-delivered OLD events lose LWW against the stored row
    lake.merge_into(spark.createDataFrame([ch("a", 1, "I", "old", 0, 1, 1)], CHANGE_DDL), batch_id=0)
    lake.merge_into(spark.createDataFrame([ch("a", 1, "U", "new", 1, 1, 10)], CHANGE_DDL), batch_id=1)
    # replay the old insert (no batch gate — simulate at-least-once source)
    lake.merge_into(spark.createDataFrame([ch("a", 1, "I", "old", 0, 1, 1)], CHANGE_DDL))
    assert rows(lake.read()) == [("a", 1, "new")]


def test_update_as_upsert_safe_mode(spark, lake):
    # DM safe mode rewrites UPDATE as reentrant upsert (syncer/dml.go:586-615)
    lake.merge_into(spark.createDataFrame([ch("ghost", 5, "U", "v", 0, 1, 1)], CHANGE_DDL), batch_id=0)
    assert rows(lake.read()) == [("ghost", 5, "v")]


def test_delete_missing_key_noop(spark, lake):
    lake.merge_into(spark.createDataFrame([ch("nope", 1, "D", None, 0, 1, 1)], CHANGE_DDL), batch_id=0)
    assert rows(lake.read()) == []


def test_time_travel_and_vacuum(spark, lake):
    lake.merge_into(spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL), batch_id=0)
    v1 = lake._head_version()
    lake.merge_into(spark.createDataFrame([ch("a", 1, "U", "v2", 1, 1, 2)], CHANGE_DDL), batch_id=1)
    assert rows(lake.read(version=v1)) == [("a", 1, "v1")]
    assert rows(lake.read()) == [("a", 1, "v2")]
    removed = lake.vacuum()
    assert removed >= 1  # v1's file for that bucket is now unreferenced
    assert rows(lake.read()) == [("a", 1, "v2")]


def test_vacuum_removes_dead_commit_dirs(spark, tmp_path):
    """vacuum() reclaims a commit dir whole once no live parquet file is
    left in it — Spark's `_SUCCESS` and `.crc` files do not keep a dead
    dir alive — and keeps every dir that still holds a live file."""
    lake = LakeTable.create(spark, str(tmp_path / "vdirs"), SCHEMA, KEY, n_buckets=4)
    lake.merge_into(
        spark.createDataFrame([ch(f"c{i}", 1, "I", "v0", 0, i, i) for i in range(16)], CHANGE_DDL),
        batch_id=0,
    )
    for b in range(1, 6):  # each rewrites the one bucket holding c0
        lake.merge_into(
            spark.createDataFrame([ch("c0", 1, "U", f"v{b}", b, 0, 100 + b)], CHANGE_DDL),
            batch_id=b,
        )
    before = rows(lake.read())
    assert len(os.listdir(lake.data_dir)) == 6
    assert lake.vacuum() >= 4
    live = {
        os.path.relpath(e["path"], lake.data_dir).split(os.sep)[0]
        for e in lake._data_entries(lake._load_meta())
    }
    assert set(os.listdir(lake.data_dir)) == live and len(live) < 6
    assert rows(lake.read()) == before


def test_schema_evolution_add_rename_widen(spark, lake):
    lake.merge_into(spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL), batch_id=0)
    assert lake.apply_ddl({"action": "add_column", "column": "rating", "new_type": "int", "file_seq": 1, "pos": 0})
    # obsolete DDL at same location is gated (checkpoint.go:460-488 analog)
    assert not lake.apply_ddl({"action": "add_column", "column": "rating2", "new_type": "int", "file_seq": 1, "pos": 0})
    assert lake.apply_ddl({"action": "rename_column", "column": "tool", "new_name": "tool_name", "file_seq": 2, "pos": 0})
    assert lake.apply_ddl({"action": "widen_type", "column": "turn_idx", "new_type": "bigint", "file_seq": 3, "pos": 0})

    df = lake.read()
    assert "rating" in df.columns and "tool_name" in df.columns and "tool" not in df.columns
    assert dict(df.dtypes)["turn_idx"] == "bigint"
    assert df.count() == 1 and df.collect()[0]["rating"] is None

    # post-DDL merge writes the new shape; old files still readable
    new_ddl = CHANGE_DDL.replace("turn_idx int", "turn_idx bigint").replace("tool string", "tool_name string") + ", rating int"
    b = spark.createDataFrame(
        [("b", 2, "user", "v1", None, T(5), "I", T(5), 4, 1, 7)], new_ddl
    )
    lake.merge_into(b, batch_id=1)
    got = {(r.conv_id, r.turn_idx): r.rating for r in lake.read().collect()}
    assert got == {("a", 1): None, ("b", 2): 7}
    assert len(lake.applied_ddl_log()) == 3


def test_lineage_and_checkpoint(spark, lake):
    lake.merge_into(
        spark.createDataFrame([ch("a", 1, "I", "v", 3, 44, 1), ch("b", 1, "D", None, 3, 45, 2)], CHANGE_DDL),
        batch_id=0,
    )
    lin = lake.lineage_log()
    assert lin[-1]["n_incoming"] == 2 and lin[-1]["n_deletes_in"] == 1
    cp = lake.global_checkpoint()
    assert (cp["file_seq"], cp["pos"]) == (3, 45)
    assert cp["max_applied_ts"] == "2024-01-01 00:00:02"
    assert lake.totals()["batches"] == 1


def test_key_change_update_as_delete_insert(spark, lake):
    """SURVEY §7.3(a): an update that moves the key must be staged as
    delete(old)+insert(new) — two change rows — inside one batch."""
    lake.merge_into(spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL), batch_id=0)
    b = spark.createDataFrame(
        [ch("a", 1, "D", None, 1, 1, 2), ch("a", 2, "I", "v1-moved", 1, 2, 2)], CHANGE_DDL
    )
    lake.merge_into(b, batch_id=1)
    assert rows(lake.read()) == [("a", 2, "v1-moved")]


def test_schema_evolution_drop_and_rename_chain(spark, lake):
    lake.merge_into(spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL), batch_id=0)
    assert lake.apply_ddl({"action": "drop_column", "column": "role", "file_seq": 1, "pos": 0})
    df = lake.read()
    assert "role" not in df.columns and df.count() == 1
    # rename chain tool -> t1 -> t2: old files still project by field id
    assert lake.apply_ddl({"action": "rename_column", "column": "tool", "new_name": "t1", "file_seq": 2, "pos": 0})
    assert lake.apply_ddl({"action": "rename_column", "column": "t1", "new_name": "t2", "file_seq": 3, "pos": 0})
    df = lake.read()
    assert "t2" in df.columns and "tool" not in df.columns and "t1" not in df.columns
    # key columns are protected
    import pytest as _pt
    with _pt.raises(ValueError):
        lake.apply_ddl({"action": "drop_column", "column": "conv_id", "file_seq": 4, "pos": 0})
    with _pt.raises(ValueError):
        lake.apply_ddl({"action": "rename_column", "column": "turn_idx", "new_name": "x", "file_seq": 5, "pos": 0})
    # add-back after drop gets a NEW field id (no resurrection of old data)
    assert lake.apply_ddl({"action": "add_column", "column": "role", "new_type": "string", "file_seq": 6, "pos": 0})
    assert lake.read().collect()[0]["role"] is None


def test_multi_string_key_lww(spark, tmp_path):
    """Two STRING key columns must bucket and LWW-resolve distinctly
    (ADVICE r01: key[1:] was cast to long unconditionally -> NULL ->
    distinct keys collided and rows were silently dropped)."""
    lake = LakeTable.create(
        spark,
        str(tmp_path / "t2"),
        [("tenant", "string"), ("doc", "string"), ("v", "string")],
        ["tenant", "doc"],
        n_buckets=4,
    )
    ddl = "tenant string, doc string, v string, op string, _cdc_ts timestamp, _cdc_file_seq long, _cdc_pos long"
    b = spark.createDataFrame(
        [
            ("a", "x", "v1", "I", T(1), 0, 1),
            ("a", "y", "v1", "I", T(2), 0, 2),
            ("b", "x", "v1", "I", T(3), 0, 3),
            ("a", "x", "v2", "U", T(4), 0, 4),
        ],
        ddl,
    )
    lake.merge_into(b, batch_id=0)
    got = sorted((r.tenant, r.doc, r.v) for r in lake.read().collect())
    assert got == [("a", "x", "v2"), ("a", "y", "v1"), ("b", "x", "v1")]


def test_key_widen_across_class_refused(spark, tmp_path):
    lake = LakeTable.create(
        spark, str(tmp_path / "t3"), SCHEMA, KEY, n_buckets=4
    )
    # in-class widening of a key column is fine (int -> bigint)
    assert lake.apply_ddl(
        {"action": "widen_type", "column": "turn_idx", "new_type": "bigint", "file_seq": 1, "pos": 0}
    )
    # cross-class widening would re-bucket existing data: refused
    with pytest.raises(ValueError, match="bucket-hash classes"):
        lake.apply_ddl(
            {"action": "widen_type", "column": "turn_idx", "new_type": "string", "file_seq": 2, "pos": 0}
        )


def test_manifest_chunking_commit_is_o_touched(spark, tmp_path):
    """A trickle merge touching one bucket must rewrite only that
    bucket's chunk file; the per-version manifest stays O(1) in total
    file count (VERDICT r01 design-for-scale: manifest chunking)."""
    import json
    import os

    lake = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEY, n_buckets=64)
    b1 = spark.createDataFrame(
        [ch(f"c{i}", 1, "I", "v1", 0, i, i) for i in range(40)], CHANGE_DDL
    )
    lake.merge_into(b1, batch_id=0)
    before = dict(lake._load_meta().bucket_chunks)
    # one-key trickle batch: exactly one bucket touched
    b2 = spark.createDataFrame([ch("c0", 1, "U", "v2", 1, 1, 99)], CHANGE_DDL)
    s = lake.merge_into(b2, batch_id=1)
    assert s.n_buckets_touched == 1
    after = dict(lake._load_meta().bucket_chunks)
    changed = [c for c in after if after[c] != before.get(c)]
    assert len(changed) == 1, f"trickle rewrote {len(changed)} chunks"
    # manifest itself carries no per-file entries
    head = lake._head_version()
    manifest = json.load(open(os.path.join(lake.meta_dir, f"v{head}.json")))
    assert "buckets" not in manifest
    # vacuum prunes chunk files of dead versions but keeps live ones
    lake.vacuum()
    got = sorted((r.conv_id, r.text) for r in lake.read().where("conv_id = 'c0'").collect())
    assert got == [("c0", "v2")]


def _merge_jobs(spark, lake, batch, **kw):
    """(MergeStats, number of Spark jobs the merge ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"merge-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        s = lake.merge_into(batch, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return s, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cow_prune_pass_runs_only_when_it_can_prune(spark, tmp_path):
    """The touched-bucket pre-pass is skipped into a table with no base
    files and after a merge that touched every bucket; the one-job
    merge observes its true touch count, so the next merge prunes
    again. Untouched buckets keep their files either way."""
    lake = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEY, n_buckets=8)
    want = {}

    def merge(batch_rows, batch_id):
        for r in batch_rows:
            if r[6] == "D":
                want.pop((r[0], r[1]), None)
            else:
                want[(r[0], r[1])] = r[3]
        before = lake._load_meta()
        s, jobs = _merge_jobs(
            spark, lake, spark.createDataFrame(batch_rows, CHANGE_DDL), batch_id=batch_id
        )
        after = lake._load_meta()
        assert rows(lake.read()) == sorted((k[0], k[1], v) for k, v in want.items())
        changed = [b for b in after.buckets if after.buckets[b] != before.buckets[b]]
        assert len(changed) == s.n_buckets_touched, (changed, s)
        assert lake.lineage_log()[-1]["buckets_touched"] == s.n_buckets_touched
        chunks = [c for c in after.bucket_chunks if after.bucket_chunks[c] != before.bucket_chunks.get(c)]
        return s, jobs, changed, chunks

    # 1. into an empty table: nothing to prune, one job
    s, jobs, _, _ = merge([ch(f"a{i}", 1, "I", "v1", 0, i, i) for i in range(3)], 0)
    assert jobs == 1 and 1 <= s.n_buckets_touched <= 3
    # 2. the last merge touched few buckets: prune; this one touches all
    s, jobs, _, _ = merge([ch(f"c{i}", 1, "I", "v1", 1, i, 10) for i in range(200)], 1)
    assert jobs == 2 and s.n_buckets_touched == 8
    # 3. after a merge that touched every bucket: one job, one bucket
    # (and so one chunk file) rewritten, rows counted in that bucket only
    s, jobs, changed, chunks = merge([ch("c0", 1, "U", "v2", 2, 0, 20)], 2)
    assert jobs == 1 and s.n_buckets_touched == 1 and len(chunks) == 1
    files = lake._load_meta().buckets[changed[0]]
    assert s.rows_written == sum(pq.ParquetFile(e["path"]).metadata.num_rows for e in files)
    # the dropped rewrites of the untouched buckets left no part file
    commit_dir = os.path.dirname(files[0]["path"])
    assert [f for f in os.listdir(commit_dir) if f.endswith(".parquet")] == [
        os.path.basename(e["path"]) for e in files
    ]
    # 4. the observed count turned pruning back on
    s, jobs, _, chunks = merge([ch("c1", 1, "D", None, 3, 0, 30)], 3)
    assert jobs == 2 and s.n_buckets_touched == 1 and len(chunks) == 1


def test_idle_cow_target_rewrites_at_most_once(spark, tmp_path):
    """A routed batch merges into every target lake, also one it routes
    no rows to. After a merge that touched every bucket, an idle CoW
    target's first empty merge may rewrite its buckets once (dropped
    uncommitted); its zero touch count turns the pre-pass back on, so
    later empty merges read and write no base file."""
    from dm_spark.config import TaskConfig
    from dm_spark.operators import ApplyPipeline

    pipe = ApplyPipeline(TaskConfig())
    lakes = {
        t: LakeTable.create(spark, str(tmp_path / t), SCHEMA, KEY, n_buckets=4)
        for t in ("busy", "idle")
    }
    flat_ddl = CHANGE_DDL + ", target_table string"

    def routed(flat, target):  # each target merges the rows routed to it
        return flat.where(F.col("target_table") == target).drop("target_table")

    wide = [ch(f"{t}{i}", 1, "I", "v1", 0, i, 1) + (t,) for t in lakes for i in range(100)]
    pipe.merge(spark.createDataFrame(wide, flat_ddl), lakes, part=routed, batch_id=0)
    idle = lakes["idle"]
    assert idle.lineage_log()[-1]["buckets_touched"] == 4
    want = rows(idle.read())
    buckets = idle._load_meta().buckets

    def commit_dirs():
        return {d for d in os.listdir(idle.data_dir) if d.startswith("commit-")}

    for b in range(1, 5):
        dirs = commit_dirs()
        narrow = [ch("busy0", 1, "U", f"v{b}", b, 0, 10 + b) + ("busy",)]
        s = pipe.merge(spark.createDataFrame(narrow, flat_ddl), lakes, part=routed, batch_id=b)["idle"]
        meta = idle._load_meta()
        assert not s.skipped and s.n_buckets_touched == 0 and s.rows_written == 0
        assert meta.last_batch_id == b and meta.buckets == buckets
        assert idle.lineage_log()[-1]["buckets_touched"] == 0
        assert LakeTable._prune_pays(meta)
        assert rows(idle.read()) == want
        if b > 1:
            assert commit_dirs() == dirs, f"empty merge {b} rewrote the idle table"


def test_rescale_buckets(spark, tmp_path):
    """Grow the bucket count of a live table: state identical, next
    trickle merge works under the new slot==bucket identity."""
    lake = LakeTable.create(spark, str(tmp_path / "rs"), SCHEMA, KEY, n_buckets=4)
    b1 = spark.createDataFrame(
        [ch(f"c{i}", 1, "I", "v1", 0, i, i) for i in range(30)], CHANGE_DDL
    )
    lake.merge_into(b1, batch_id=0)
    before = rows(lake.read())
    lake.rescale(16)
    assert lake._load_meta().n_buckets == 16
    assert rows(lake.read()) == before
    b2 = spark.createDataFrame(
        [ch("c0", 1, "U", "v2", 1, 1, 99), ch("c5", 1, "D", None, 1, 2, 99)], CHANGE_DDL
    )
    s = lake.merge_into(b2, batch_id=1)
    assert not s.skipped
    got = dict(((r[0], r[1]), r[2]) for r in rows(lake.read()))
    assert got[("c0", 1)] == "v2" and ("c5", 1) not in got


def test_concurrent_commit_detected(spark, tmp_path):
    """Two writers on one table: the slower commit must fail loudly
    instead of silently clobbering the other's snapshot (optimistic
    concurrency; a catalog/Iceberg deployment gets a true CAS)."""
    lake = LakeTable.create(spark, str(tmp_path / "cc"), SCHEMA, KEY, n_buckets=4)
    stale = lake._load_meta()  # writer A holds the snapshot...
    assert lake.apply_ddl(  # ...while writer B commits
        {"action": "add_column", "column": "r", "new_type": "int", "file_seq": 1, "pos": 0}
    )
    stale.version += 1
    with pytest.raises(RuntimeError, match="concurrent commit"):
        lake._commit(stale, dirty=set())


def test_concurrent_manifest_write_fails_loudly(spark, tmp_path):
    """Even if two writers race past the HEAD check (the non-atomic
    check-then-act window), the manifest file itself is written with
    mode 'x' so the second writer fails on the unique v{N+1}.json
    instead of silently clobbering the first (ADVICE r02)."""
    lake = LakeTable.create(spark, str(tmp_path / "ccx"), SCHEMA, KEY, n_buckets=4)
    a = lake._load_meta()
    b = lake._load_meta()
    a.version += 1
    lake._commit(a, dirty=set())
    b.version += 1
    b._loaded_from = a.version  # simulate B passing the HEAD check in the window
    with pytest.raises(RuntimeError, match="concurrent commit"):
        lake._commit(b, dirty=set())


def _plant_orphan_manifest(lake, aged: bool) -> str:
    """Simulate a writer that crashed between writing v{N+1}.json and
    the HEAD rename-swap."""
    import os

    head = lake._head_version()
    mp = os.path.join(lake.meta_dir, f"v{head + 1}.json")
    with open(mp, "x") as f:
        f.write("{}")
    if aged:
        os.utime(mp, (1, 1))  # past the mid-commit grace window
    return mp


def test_orphan_manifest_reclaimed_by_next_commit(spark, tmp_path):
    """Crash between manifest write and HEAD swap: HEAD still points at
    N, so the next commit recomputes N+1 and hits the mode-'x' claim.
    An AGED orphan above HEAD is a crashed writer, not a live one — the
    commit must reclaim it instead of wedging forever (ADVICE r03 #2)."""
    import os

    lake = LakeTable.create(spark, str(tmp_path / "orph"), SCHEMA, KEY, n_buckets=4)
    lake.merge_into(
        spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL), batch_id=0
    )
    mp = _plant_orphan_manifest(lake, aged=True)
    s = lake.merge_into(
        spark.createDataFrame([ch("b", 1, "I", "v1", 1, 1, 2)], CHANGE_DDL), batch_id=1
    )
    assert not s.skipped
    assert rows(lake.read()) == [("a", 1, "v1"), ("b", 1, "v1")]
    assert os.path.exists(mp)  # reclaimed: now the COMMITTED manifest
    assert lake._head_version() == int(mp.rsplit("v", 1)[1].split(".")[0])


def test_fresh_orphan_manifest_refused_not_clobbered(spark, tmp_path):
    """A manifest above HEAD that is only seconds old may be a live
    writer mid-swap — the commit must refuse loudly, not overwrite."""
    lake = LakeTable.create(spark, str(tmp_path / "orphf"), SCHEMA, KEY, n_buckets=4)
    _plant_orphan_manifest(lake, aged=False)
    with pytest.raises(RuntimeError, match="mid-commit"):
        lake.merge_into(
            spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL),
            batch_id=0,
        )


def test_vacuum_collects_aged_orphan_manifests(spark, tmp_path):
    """vacuum() provides the recovery path for orphan manifests too:
    aged ones above HEAD are collected, fresh ones are left alone."""
    import os

    lake = LakeTable.create(spark, str(tmp_path / "orphv"), SCHEMA, KEY, n_buckets=4)
    aged = _plant_orphan_manifest(lake, aged=True)
    assert lake.vacuum() >= 1 and not os.path.exists(aged)
    fresh = _plant_orphan_manifest(lake, aged=False)
    lake.vacuum()
    assert os.path.exists(fresh)


def test_commit_fencing_detects_reclaimed_manifest(spark, tmp_path, monkeypatch):
    """ADVICE r04 #2: a writer stalled past the orphan grace window
    between its manifest write and the HEAD swap can have its manifest
    reclaimed by a concurrent committer. On resume it must FAIL LOUDLY
    (the fencing re-read sees the other writer's token) instead of
    swapping HEAD onto the reclaimer's manifest and silently discarding
    its own batch while returning success."""
    import os

    import dm_spark.lake.table as tablemod

    lake = LakeTable.create(spark, str(tmp_path / "fence"), SCHEMA, KEY, n_buckets=4)
    lake.merge_into(
        spark.createDataFrame([ch("a", 1, "I", "v1", 0, 1, 1)], CHANGE_DDL), batch_id=0
    )
    lake_b = LakeTable(spark, lake.path)

    def stall(stalled_lake, meta):
        # simulate the >grace stall: age the just-written manifest, then
        # let a concurrent writer commit the SAME version (it reclaims
        # the aged orphan and HEAD-swaps its own manifest)
        mp = os.path.join(stalled_lake.meta_dir, f"v{meta.version}.json")
        os.utime(mp, (1, 1))
        tablemod._COMMIT_STALL_HOOK = None  # the concurrent writer runs clean
        lake_b.merge_into(
            spark.createDataFrame([ch("c", 1, "I", "vB", 2, 1, 3)], CHANGE_DDL),
            batch_id=None,
        )

    monkeypatch.setattr(tablemod, "_COMMIT_STALL_HOOK", stall)
    with pytest.raises(RuntimeError, match="fencing"):
        lake.merge_into(
            spark.createDataFrame([ch("b", 1, "I", "vA", 1, 1, 2)], CHANGE_DDL),
            batch_id=1,
        )
    # the reclaimer's batch IS the committed state; the stalled writer's
    # batch is not (it errored, so the caller retries — never silent)
    assert rows(lake.read()) == [("a", 1, "v1"), ("c", 1, "vB")]


def test_file_seq_regression_surfaces_epoch_remedy(spark, tmp_path):
    """VERDICT r04 #6: a re-master restarts file numbering, and without
    an epoch bump the REPORTED checkpoint freezes at the old high water.
    The merge now diagnoses the regression and surfaces the remedy in
    the lineage log (and a dm_spark.lake warning) instead of relying on
    the operator to know `epoch=N` exists."""
    lake = LakeTable.create(spark, str(tmp_path / "freeze"), SCHEMA, KEY, n_buckets=4)
    lake.merge_into(
        spark.createDataFrame([ch("c1", 1, "I", "v1", 900, 5, 10)], CHANGE_DDL),
        batch_id=0,
    )
    # re-mastered source, operator forgot epoch=1: file_seq restarts
    lake.merge_into(
        spark.createDataFrame([ch("c1", 1, "U", "v2", 0, 1, 20)], CHANGE_DDL),
        batch_id=1,
    )
    note = lake.lineage_log()[-1].get("checkpoint_note", "")
    assert "epoch=1" in note and "re-master" in note
    # with the epoch declared, the next batch advances and no note rides
    lake.merge_into(
        spark.createDataFrame([ch("c2", 1, "I", "v3", 0, 2, 21)], CHANGE_DDL),
        batch_id=2,
        epoch=1,
    )
    assert "checkpoint_note" not in lake.lineage_log()[-1]
    assert lake.global_checkpoint()["epoch"] == 1


def test_manifest_metadata_bounded_after_many_ddls(spark, tmp_path):
    """500 add/widen DDLs: the manifest must stay bounded — applied_ddl
    capped to a tail window (the obsolete gate uses ddl_high_water) and
    schema_history pruned to versions still referenced by live files
    (VERDICT r02 #3: unbounded growth inflated every commit)."""
    import json
    import os

    lake = LakeTable.create(spark, str(tmp_path / "mg"), SCHEMA, KEY, n_buckets=4)
    b1 = spark.createDataFrame(
        [ch(f"c{i}", 1, "I", "v1", 0, i, i) for i in range(10)], CHANGE_DDL
    )
    lake.merge_into(b1, batch_id=0)
    for i in range(500):
        lake.apply_ddl(
            {"action": "add_column", "column": f"extra_{i}", "new_type": "int",
             "file_seq": 10, "pos": 2 * i}
        )
        if i % 2:  # churn versions further
            lake.apply_ddl(
                {"action": "widen_type", "column": f"extra_{i}", "new_type": "bigint",
                 "file_seq": 10, "pos": 2 * i + 1}
            )
    meta = lake._load_meta()
    assert len(meta.applied_ddl) <= 200
    # live files were written at schema_version 0; current is the only
    # other version that must survive
    assert set(meta.schema_history) == {"0", str(meta.schema_version)}
    head = lake._head_version()
    size = os.path.getsize(os.path.join(lake.meta_dir, f"v{head}.json"))
    assert size < 500_000, size
    # the gate still rejects an obsolete DDL after the tail truncation
    assert not lake.apply_ddl(
        {"action": "add_column", "column": "stale", "new_type": "int",
         "file_seq": 5, "pos": 0}
    )
    # reads still project old files through the surviving versions
    assert lake.read().where("conv_id = 'c3'").count() == 1


def test_failover_restarted_file_seq_converges(spark, tmp_path):
    """Source failover (GTID scope decision, SURVEY §1 Location row): a
    re-mastered upstream restarts file_seq at 0. Correctness must not
    depend on location monotonicity — LWW orders by commit ts FIRST, so
    post-failover events (later ts, smaller file_seq) still win, and
    redelivered pre-failover events still lose."""
    lake = LakeTable.create(spark, str(tmp_path / "fo"), SCHEMA, KEY, n_buckets=4)
    epoch0 = spark.createDataFrame(
        [ch("c1", 1, "I", "v1", 900, 5, 10), ch("c2", 1, "I", "v1", 900, 6, 11)],
        CHANGE_DDL,
    )
    lake.merge_into(epoch0, batch_id=0)
    # failover: new master, file_seq restarts at 0, commit ts continues
    epoch1 = spark.createDataFrame(
        [
            ch("c1", 1, "U", "v2-post-failover", 0, 1, 20),
            ch("c2", 1, "I", "v1", 0, 2, 11),  # redelivered (same ts as original)
            ch("c3", 1, "I", "new", 0, 3, 21),
        ],
        CHANGE_DDL,
    )
    lake.merge_into(epoch1, batch_id=1)
    got = dict(((r[0], r[1]), r[2]) for r in rows(lake.read()))
    assert got[("c1", 1)] == "v2-post-failover"  # later ts wins despite smaller loc
    assert got[("c2", 1)] == "v1"
    assert got[("c3", 1)] == "new"
    # the reported checkpoint is epoch-scoped: it does not regress to the
    # new epoch's smaller locations (disclosed behavior, not silent)
    assert lake.global_checkpoint()["file_seq"] == 900
    assert lake.global_checkpoint()["epoch"] == 0


def test_failover_epoch_ordinal_advances_checkpoint(spark, tmp_path):
    """VERDICT r03 #6: declaring the new binlog epoch after a re-master
    (merge_into(epoch=1)) lets the REPORTED global checkpoint advance
    as (epoch, file_seq, pos) instead of freezing at the old epoch's
    high water until the restarted file_seq passes it — the GTID-set
    monitoring semantics (pkg/binlog/position.go:298-317 orders GTID
    first) without location-keyed correctness."""
    lake = LakeTable.create(spark, str(tmp_path / "foe"), SCHEMA, KEY, n_buckets=4)
    lake.merge_into(
        spark.createDataFrame([ch("c1", 1, "I", "v1", 900, 5, 10)], CHANGE_DDL),
        batch_id=0,
    )
    lake.merge_into(
        spark.createDataFrame(
            [ch("c1", 1, "U", "v2-post-failover", 0, 1, 20)], CHANGE_DDL
        ),
        batch_id=1,
        epoch=1,
    )
    cp = lake.global_checkpoint()
    assert (cp["epoch"], cp["file_seq"], cp["pos"]) == (1, 0, 1)
    # a late batch still tagged with the OLD epoch cannot regress it
    lake.merge_into(
        spark.createDataFrame([ch("c9", 1, "I", "late", 901, 1, 12)], CHANGE_DDL),
        batch_id=2,
        epoch=0,
    )
    cp = lake.global_checkpoint()
    assert (cp["epoch"], cp["file_seq"], cp["pos"]) == (1, 0, 1)
    # and within the new epoch it advances normally
    lake.merge_into(
        spark.createDataFrame([ch("c3", 1, "I", "new", 0, 7, 21)], CHANGE_DDL),
        batch_id=3,
        epoch=1,
    )
    assert lake.global_checkpoint()["pos"] == 7


def test_add_column_default_backfills_old_files(spark, lake):
    """MySQL existing-row backfill: ADD COLUMN ... DEFAULT fills
    pre-DDL files with the literal at read time, while rows written
    AFTER the DDL keep their explicit values — including explicit
    NULL, which must NOT be overwritten by the default (the file
    carries the column, so the fill never applies)."""
    lake.merge_into(
        spark.createDataFrame(
            [ch("a", 1, "I", "old", 0, 1, 1), ch("b", 1, "I", "old", 0, 2, 2)],
            CHANGE_DDL,
        ),
        batch_id=0,
    )
    assert lake.apply_ddl(
        {"action": "add_column", "column": "rating", "new_type": "int",
         "default": 7, "file_seq": 1, "pos": 0}
    )
    got = {r.conv_id: r.rating for r in lake.read().collect()}
    assert got == {"a": 7, "b": 7}

    new_ddl = CHANGE_DDL + ", rating int"
    lake.merge_into(
        spark.createDataFrame(
            [
                ("c", 1, "user", "new", None, T(5), "I", T(5), 2, 1, 3),
                ("d", 1, "user", "new", None, T(6), "I", T(6), 2, 2, None),
            ],
            new_ddl,
        ),
        batch_id=1,
    )
    got = {r.conv_id: r.rating for r in lake.read().collect()}
    # a/b: backfilled (a's bucket may have been CoW-rewritten — the
    # fill materializes, same value either way); c: explicit 3;
    # d: explicit NULL survives
    assert got == {"a": 7, "b": 7, "c": 3, "d": None}
    assert lake.applied_ddl_log()[-1]["default"] == 7


def test_add_column_default_backfills_through_mor_read(spark, tmp_path):
    """Same law through the MoR read path (base+delta LWW resolve)."""
    from dm_spark.lake import LakeTable

    lake = LakeTable.create(
        spark, str(tmp_path / "m"), SCHEMA, KEY, n_buckets=4, write_mode="mor"
    )
    lake.merge_into(
        spark.createDataFrame([ch("a", 1, "I", "old", 0, 1, 1)], CHANGE_DDL),
        batch_id=0,
    )
    assert lake.apply_ddl(
        {"action": "add_column", "column": "rating", "new_type": "int",
         "default": 7, "file_seq": 1, "pos": 0}
    )
    lake.merge_into(
        spark.createDataFrame(
            [("a", 2, "user", "new", None, T(5), "I", T(5), 2, 1, 4)],
            CHANGE_DDL + ", rating int",
        ),
        batch_id=1,
    )
    got = {(r.conv_id, r.turn_idx): r.rating for r in lake.read().collect()}
    assert got == {("a", 1): 7, ("a", 2): 4}


def test_downstream_more_column_fills_declared_default(spark, lake):
    """downstream_more_column (reference tests/downstream_more_column):
    a source still emitting the narrow shape merges into a wider lake —
    the missing column fills the downstream column's declared DEFAULT
    when it has one (the reference's generated INSERT omits the column
    and TiDB applies its default), else NULL."""
    assert lake.apply_ddl(
        {"action": "add_column", "column": "rating", "new_type": "int",
         "default": 9, "file_seq": 1, "pos": 0}
    )
    assert lake.apply_ddl(
        {"action": "add_column", "column": "note", "new_type": "string",
         "file_seq": 2, "pos": 0}
    )
    # narrow batch: neither rating nor note present
    lake.merge_into(
        spark.createDataFrame([ch("a", 1, "I", "v", 0, 1, 1)], CHANGE_DDL),
        batch_id=0,
    )
    r = lake.read().collect()[0]
    assert (r.rating, r.note) == (9, None)


def test_binlog_file_seq_999999_rollover(spark, lake):
    """Reference tests/binlog_999999: replication must keep ordering
    when the binlog file sequence crosses 999999 -> 1000000 (filename
    mysql-bin.999999 rolls to mysql-bin.1000000). file_seq is a plain
    bigint here so the ordering is arithmetic, but the LWW tiebreak
    and the reported checkpoint must both advance across the boundary
    — pinned against a same-ts pair straddling it."""
    b = spark.createDataFrame(
        [
            ch("k", 1, "I", "pre-roll", 999_999, 4, 1),
            ch("k", 1, "U", "post-roll", 1_000_000, 1, 1),  # same ts: file_seq decides
        ],
        CHANGE_DDL,
    )
    lake.merge_into(b, batch_id=0)
    assert rows(lake.read()) == [("k", 1, "post-roll")]
    cp = lake.global_checkpoint()
    assert (cp["file_seq"], cp["pos"]) == (1_000_000, 1)
