"""Schema registry / optimistic join / online-DDL / error-operator
unit tests (pure Python — no Spark needed except the online-DDL filter).
"""

from __future__ import annotations

import pytest

from dm_spark.operators.errors import ErrorOperators
from dm_spark.schema.online_ddl import OnlineDdlBuffer, classify, filter_online_ddl_tables
from dm_spark.schema.registry import SchemaRegistry, join_schemas, reconcile_actions, widest


BASE = [("conv_id", "string"), ("turn_idx", "int"), ("text", "string")]


def test_widest_lattice():
    assert widest("int", "bigint") == "bigint"
    assert widest("int", "string") == "string"
    assert widest("double", "int") == "double"
    with pytest.raises(ValueError):
        widest("array<int>", "int")


def test_join_schemas_superset_and_widen():
    s1 = BASE + [("rating", "int")]
    s2 = BASE[:2] + [("text", "string"), ("score", "double"), ("rating", "bigint")]
    j = join_schemas([s1, s2])
    assert ("rating", "bigint") in j and ("score", "double") in j
    assert [n for n, _ in j][:3] == ["conv_id", "turn_idx", "text"]


def test_reconcile_additive_only():
    joined = BASE + [("rating", "bigint")]
    cur = BASE + [("rating", "int"), ("legacy", "string")]
    acts = reconcile_actions(cur, joined)
    assert acts == [{"action": "widen_type", "column": "rating", "new_type": "bigint"}]
    # nothing drops 'legacy' — lagging shards stay writable


def test_registry_tracks_per_shard():
    r = SchemaRegistry()
    r.seed("shard_0.t", BASE)
    r.seed("shard_1.t", BASE)
    r.apply("shard_0.t", {"action": "add_column", "column": "rating", "new_type": "int"})
    r.apply("shard_1.t", {"action": "add_column", "column": "rating", "new_type": "bigint"})
    j = r.joined(["shard_0.t", "shard_1.t"])
    assert ("rating", "bigint") in j
    acts = reconcile_actions(BASE, j)
    assert acts == [{"action": "add_column", "column": "rating", "new_type": "bigint"}]


def test_online_ddl_classify():
    assert classify("db.t1") == ("real", None)
    assert classify("db._t1_gho") == ("ghost", "db.t1")
    assert classify("db._t1_new") == ("ghost", "db.t1")
    assert classify("db._t1_del") == ("trash", "db.t1")
    assert classify("db._t1_old") == ("trash", "db.t1")
    assert classify("db._t1_ghc") == ("trash", "db.t1")


def test_online_ddl_buffer_and_swap():
    buf = OnlineDdlBuffer()
    a1 = {"action": "add_column", "column": "rating", "new_type": "int"}
    assert buf.on_ddl("db._t1_gho", a1) is True           # buffered
    assert buf.on_ddl("db._t1_del", {"action": "x"}) is True  # trash: dropped
    assert buf.on_ddl("db.t1", a1) is False               # real: apply now
    replay = buf.on_rename("db._t1_gho", "db.t1")
    assert replay == [a1]
    assert buf.on_rename("db._t1_gho", "db.t1") == []     # cleared
    # persistence round-trip
    buf.on_ddl("db._t2_gho", a1)
    buf2 = OnlineDdlBuffer.from_json(buf.to_json())
    assert buf2.on_rename("db._t2_gho", "db.t2") == [a1]


def test_online_ddl_dml_filter(spark):
    df = spark.createDataFrame(
        [("db.t1",), ("db._t1_gho",), ("db._t1_del",), ("db.t2",)], "source_table string"
    )
    kept = [r[0] for r in filter_online_ddl_tables(df).collect()]
    assert sorted(kept) == ["db.t1", "db.t2"]


def test_error_operators_skip_replace_revert():
    ops = ErrorOperators()
    assert ops.resolve(7, 3) is None  # no operator: applies as parsed
    ops.set_skip(7, 3)
    assert ops.resolve(7, 3) == []
    ops.set_replace(7, 3, [{"action": "add_column", "column": "x2", "new_type": "string"}])
    out = ops.resolve(7, 3)
    # replacements keep the original pos and get a suffix ordinal
    assert out[0]["column"] == "x2" and out[0]["file_seq"] == 7
    assert out[0]["pos"] == 3 and out[0]["suffix"] == 1
    assert ops.revert(7, 3) and ops.resolve(7, 3) is None
