"""Merge-on-read mode: delta appends, tombstones, read-time LWW,
compaction — must be state-equivalent to copy-on-write."""

from __future__ import annotations

import pytest

from dm_spark.lake import LakeTable

from tests.test_lake import CHANGE_DDL, KEY, SCHEMA, ch, rows


@pytest.fixture()
def pair(spark, tmp_path):
    cow = LakeTable.create(spark, str(tmp_path / "cow"), SCHEMA, KEY, n_buckets=8)
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), SCHEMA, KEY, n_buckets=8, write_mode="mor"
    )
    return cow, mor


BATCHES = [
    [("a", 1, "I", "v1", 0, 1, 1), ("a", 2, "I", "v1", 0, 2, 2), ("b", 1, "I", "v1", 0, 3, 3)],
    [("a", 1, "U", "v2", 1, 1, 10), ("b", 1, "D", None, 1, 2, 11), ("c", 9, "I", "v1", 1, 3, 12)],
    [("c", 9, "D", None, 2, 1, 20), ("a", 2, "U", "v3", 2, 2, 21), ("d", 4, "I", "v1", 2, 3, 22)],
]


def _apply_all(spark, lake):
    for i, b in enumerate(BATCHES):
        lake.merge_into(spark.createDataFrame([ch(*r) for r in b], CHANGE_DDL), batch_id=i)


def test_mor_equals_cow(spark, pair):
    cow, mor = pair
    _apply_all(spark, cow)
    _apply_all(spark, mor)
    expected = [("a", 1, "v2"), ("a", 2, "v3"), ("d", 4, "v1")]
    assert rows(cow.read()) == expected
    assert rows(mor.read()) == expected


def test_mor_delta_files_then_compact(spark, pair):
    _, mor = pair
    _apply_all(spark, mor)
    meta = mor._load_meta()
    assert meta.deltas and all(e.get("delta") for e in meta.deltas)
    assert not any(meta.buckets.values())  # MoR wrote deltas, no base rewrite
    before = rows(mor.read())

    n = mor.compact()
    assert n > 0
    meta2 = mor._load_meta()
    assert meta2.deltas == []
    assert not any(e.get("delta") for es in meta2.buckets.values() for e in es)
    assert rows(mor.read()) == before
    # compaction dropped tombstones: total file rows == live rows
    total = sum(
        __import__("pyarrow.parquet", fromlist=["ParquetFile"]).ParquetFile(e["path"]).metadata.num_rows
        for es in meta2.buckets.values()
        for e in es
    )
    assert total == len(before)


def test_mor_one_file_batch_writes_one_delta_file(spark, pair, tmp_path):
    """A merge-on-read append writes the batch as it comes: a batch
    read from one small file is one input partition and one delta
    file, however many buckets its keys span."""
    _, mor = pair
    src = str(tmp_path / "one_file")
    spark.createDataFrame(
        [ch(f"k{i}", i, "I", "v1", 0, i, i) for i in range(64)], CHANGE_DDL
    ).coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)
    assert batch.rdd.getNumPartitions() == 1
    s = mor.merge_into(batch, batch_id=0)
    assert s.rows_written == 64
    meta = mor._load_meta()
    assert len(meta.deltas) == 1
    assert not any(meta.buckets.values())
    assert len(rows(mor.read())) == 64


def test_mor_lww_across_input_partitions(spark, pair):
    """I, U, then D of one key in ONE batch, each in a different input
    partition: the append keeps all three rows (one delta file per
    partition), so LWW across partitions happens at read and at
    compaction — the key is gone from both."""
    _, mor = pair
    rdd = spark.sparkContext.parallelize(
        [
            ch("x", 1, "I", "v1", 0, 1, 1),
            ch("x", 1, "U", "v2", 0, 2, 2),
            ch("x", 1, "D", None, 0, 3, 3),
            ch("y", 1, "I", "v1", 0, 4, 4),
        ],
        3,
    )
    assert [len(p) for p in rdd.glom().collect()] == [1, 1, 2]
    mor.merge_into(spark.createDataFrame(rdd, CHANGE_DDL), batch_id=0)
    meta = mor._load_meta()
    assert len(meta.deltas) == 3
    assert rows(mor.read()) == [("y", 1, "v1")]
    assert mor.compact() > 0
    assert mor._load_meta().deltas == []
    assert rows(mor.read()) == [("y", 1, "v1")]


def test_mor_batch_gate_and_redelivery(spark, pair):
    _, mor = pair
    _apply_all(spark, mor)
    v = mor._head_version()
    # replayed batch id -> skipped
    s = mor.merge_into(
        spark.createDataFrame([ch(*BATCHES[0][0])], CHANGE_DDL), batch_id=0
    )
    assert s.skipped and mor._head_version() == v
    # stale redelivery without gate -> LWW keeps newer state
    mor.merge_into(spark.createDataFrame([ch(*BATCHES[0][0])], CHANGE_DDL))
    assert rows(mor.read()) == [("a", 1, "v2"), ("a", 2, "v3"), ("d", 4, "v1")]


def test_mor_cow_merge_after_compact_interops(spark, pair):
    """After compaction a CoW-style bulk merge still works on the same
    table (mode applies to writes; base files are shared shape)."""
    _, mor = pair
    _apply_all(spark, mor)
    mor.compact()
    mor.merge_into(
        spark.createDataFrame([ch("e", 5, "I", "v1", 3, 1, 30)], CHANGE_DDL), batch_id=3
    )
    assert ("e", 5, "v1") in rows(mor.read())


def test_mor_with_schema_evolution_and_compact(spark, tmp_path):
    """Delta files written under different schema versions must project
    by field id at read AND compact: write v0 deltas, widen+add+rename,
    write v1 deltas, read (merged LWW view), then compact and re-read."""
    from tests.test_lake import CHANGE_DDL, SCHEMA, KEY, T, ch

    lake = LakeTable.create(
        spark, str(tmp_path / "mde"), SCHEMA, KEY, n_buckets=4, write_mode="mor"
    )
    b1 = spark.createDataFrame(
        [ch("a", 1, "I", "v1", 0, 1, 1), ch("b", 1, "I", "v1", 0, 2, 2)], CHANGE_DDL
    )
    lake.merge_into(b1, batch_id=0)
    for i, act in enumerate(
        [
            {"action": "widen_type", "column": "turn_idx", "new_type": "bigint"},
            {"action": "add_column", "column": "rating", "new_type": "int"},
            {"action": "rename_column", "column": "tool", "new_name": "tool_name"},
        ]
    ):
        assert lake.apply_ddl({**act, "file_seq": 100 + i, "pos": 0})
    # v1-shaped delta: bigint turn, rating, tool_name; update a, delete b
    from pyspark.sql import functions as F

    ddl2 = (
        "conv_id string, turn_idx bigint, role string, text string, "
        "tool_name string, rating int, ts timestamp, "
        "op string, _cdc_ts timestamp, _cdc_file_seq long, _cdc_pos long"
    )
    b2 = spark.createDataFrame(
        [
            ("a", 1, "user", "v2", None, 5, T(9), "U", T(9), 1, 1),
            ("b", 1, "user", None, None, None, T(9), "D", T(9), 1, 2),
            ("c", 2, "user", "new", "t9", 3, T(9), "I", T(9), 1, 3),
        ],
        ddl2,
    )
    lake.merge_into(b2, batch_id=1)

    def snap():
        return sorted(
            (r.conv_id, r.turn_idx, r.text, r.rating, r.tool_name)
            for r in lake.read().collect()
        )

    want = [("a", 1, "v2", 5, None), ("c", 2, "new", 3, "t9")]
    assert snap() == want  # merged base+delta view across schema versions
    assert lake.compact() > 0
    assert snap() == want  # identical after folding deltas into base
    types = dict((f["name"], f["type"]) for f in lake.schema_fields())
    assert types["turn_idx"] == "bigint" and "tool" not in types


def test_rescale_mor_table_with_pending_deltas(spark, tmp_path):
    """Rescale must fold un-compacted deltas correctly while re-bucketing
    (read resolves base+delta LWW, write is bucket-pure under the new
    count); trickle keeps working after."""
    from tests.test_lake import CHANGE_DDL, SCHEMA, KEY, ch

    lake = LakeTable.create(
        spark, str(tmp_path / "rsm"), SCHEMA, KEY, n_buckets=4, write_mode="mor"
    )
    lake.merge_into(
        spark.createDataFrame(
            [ch(f"c{i}", 1, "I", "v1", 0, i, i) for i in range(20)], CHANGE_DDL
        ),
        batch_id=0,
    )
    lake.merge_into(  # pending deltas: update + tombstone
        spark.createDataFrame(
            [ch("c0", 1, "U", "v2", 1, 1, 50), ch("c1", 1, "D", None, 1, 2, 50)],
            CHANGE_DDL,
        ),
        batch_id=1,
    )
    lake.rescale(16)
    got = dict(((r.conv_id, r.turn_idx), r.text) for r in lake.read().collect())
    assert got[("c0", 1)] == "v2" and ("c1", 1) not in got and len(got) == 19
    s = lake.merge_into(
        spark.createDataFrame([ch("c2", 1, "U", "v3", 2, 1, 99)], CHANGE_DDL),
        batch_id=2,
    )
    assert not s.skipped
    assert {r.text for r in lake.read().where("conv_id = 'c2'").collect()} == {"v3"}
