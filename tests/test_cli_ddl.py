"""In-band DDL through the CLI: every task runs the `ReplayRunner`, so a
`main.py` drain applies the feed's query events at their locations,
blocks loudly on a statement it cannot parse (naming the `ctl binlog
skip` remedy), and serves `ctl schema get` from the runner state. Mode
`all` drops the query events its snapshot already covers, as it drops
their DMLs."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.plans import DdlEvent, ReplayRunner
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.task import Task

from tests.test_pipeline_e2e import KEY, SCHEMA, assert_tables_equal, duck_replay, spark_final

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import main as mainmod  # noqa: E402

CFG = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
TABLE = "shard_0.transcripts_0"
# columns every lake in this file keeps next to the oracle's
KEPT = ["conv_id", "turn_idx", "role", "text", "ts"]


def _spec(spark, tmp_path) -> str:
    """An `incremental` task file over tmp_path's feed dir."""
    spec = {
        "name": "cli_ddl",
        "mode": "incremental",
        "paths": {k: str(tmp_path / k) for k in ("lake", "feed", "checkpoint")},
        "schema": [{"name": n, "type": t} for n, t in SCHEMA],
        "task": {
            "routes": [{"pattern": "shard_*.transcripts_*", "target": "transcripts"}],
            "key": KEY,
            "n_buckets": 8,
            # the CLI shares this test session; keep its shuffle width
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        },
    }
    path = tmp_path / "task.json"
    path.write_text(json.dumps(spec))
    return str(path)


def _kept(lake: LakeTable):
    return (
        lake.read().select(*KEPT).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def _assert_kept_equal(lake: LakeTable, sf_dir: str) -> None:
    got, want = _kept(lake), duck_replay(sf_dir)
    assert len(got) == len(want)
    for c in ["conv_id", "turn_idx", "role", "text"]:
        assert (got[c].fillna("~") == want[c].fillna("~")).all(), c
    assert (got["ts"].astype("datetime64[us]") == want["ts"].astype("datetime64[us]")).all()


def _write_feed(spark, sf_dir, feed_dir, statements) -> None:
    """The sf feed plus `statements` [(sql, pos)] as op='Q' rows of
    TABLE at file_seq 0, in 6 relay files."""
    q = feedmod.query_events(spark, [(sql, TABLE, 0, pos) for sql, pos in statements])
    write_feed_chunks(feedmod.change_feed(spark, sf_dir).unionByName(q), feed_dir, n_chunks=6)


def test_cli_incremental_applies_inband_ddl(spark, sf_dir, tmp_path, capsys):
    """`main.py` mode `incremental` over a feed with an in-band ADD
    COLUMN and DROP COLUMN: both apply at their locations, the rows
    match the replay oracle, and both sit in the runner's applied-DDL
    log."""
    spec = _spec(spark, tmp_path)
    _write_feed(spark, sf_dir, str(tmp_path / "feed"), [
        (f"ALTER TABLE {TABLE} ADD COLUMN rating INT", 333),
        (f"ALTER TABLE {TABLE} DROP COLUMN tool", 666),
    ])
    assert mainmod.main(["main.py", spec]) == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
    assert next(ln for ln in out if ln.get("mode") == "incremental")["drained"] is True

    lake = LakeTable(spark, str(tmp_path / "lake"))
    cols = lake.read().columns
    assert "rating" in cols and "tool" not in cols
    assert lake.read().where(F.col("rating").isNotNull()).count() == 0
    _assert_kept_equal(lake, sf_dir)
    state = json.load(open(tmp_path / "checkpoint" / "runner_state.json"))
    applied = {(a["action"], a["column"], a["pos"]) for a in state["applied_ddl"]}
    assert {("add_column", "rating", 333), ("drop_column", "tool", 666)} <= applied


def test_cli_unparseable_ddl_blocks_until_ctl_skip(spark, sf_dir, tmp_path, capsys):
    """An in-band statement outside the DDL grammar fails the CLI drain
    with an error naming `ctl binlog skip F:P`; after that ctl command
    a rerun drains to the oracle, and `ctl schema get` prints the table
    the feed's CREATE TABLE seeded."""
    spec = _spec(spark, tmp_path)
    cp = str(tmp_path / "checkpoint")
    _write_feed(spark, sf_dir, str(tmp_path / "feed"), [
        (
            f"CREATE TABLE {TABLE} (conv_id VARCHAR(64), turn_idx INT, role VARCHAR(16), "
            "text TEXT, tool VARCHAR(64), ts DATETIME, PRIMARY KEY (conv_id, turn_idx))",
            0,
        ),
        (f"ALTER TABLE {TABLE} FROBNICATE tool", 1000),  # unoccupied location
    ])
    with pytest.raises(Exception) as err:
        mainmod.main(["main.py", spec])
    assert "ctl <checkpoint_dir> binlog skip 0:1000" in str(err.value)

    assert mainmod.ctl([cp, "binlog", "skip", "0:1000"]) == 0
    assert mainmod.main(["main.py", spec]) == 0
    lake = LakeTable(spark, str(tmp_path / "lake"))
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))

    capsys.readouterr()
    assert mainmod.ctl([cp, "schema", "get", TABLE]) == 0
    got = json.loads(capsys.readouterr().out)
    assert got["table"] == TABLE
    assert [c[0] for c in got["schema"]] == [n for n, _t in SCHEMA]


def test_mode_all_drops_ddl_the_snapshot_covers(spark, sf_dir, tmp_path):
    """Mode `all` redelivers the whole feed, query events included. An
    in-band ADD COLUMN and a RENAME of it, both at or before the
    snapshot location, are already in the snapshot's schema: the drain
    must not re-apply them (the RENAME would look up a column the
    snapshot no longer has) and ends equal to the replay oracle."""
    feed = feedmod.change_feed(spark, sf_dir)
    ddls = [
        (f"ALTER TABLE {TABLE} ADD COLUMN rating INT", 100),
        (f"ALTER TABLE {TABLE} RENAME COLUMN rating TO score", 200),
    ]
    snap_loc = (0, 500)
    prefix = feed.where(F.col("pos") <= snap_loc[1])
    pre = LakeTable.create(spark, str(tmp_path / "pre"), SCHEMA, KEY, n_buckets=8)
    ReplayRunner(pipeline=ApplyPipeline(CFG), lake=pre).replay(prefix, [
        DdlEvent("add_column", TABLE, 0, 100, column="rating", new_type="int"),
        DdlEvent("rename_column", TABLE, 0, 200, column="rating", new_name="score"),
    ])
    snapshot = pre.read()
    assert "score" in snapshot.columns

    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA + [("score", "int")], KEY, n_buckets=8)
    task = Task(spark, CFG, lake, str(tmp_path / "feed"), str(tmp_path / "cp"))
    q = feedmod.query_events(spark, [(sql, TABLE, 0, pos) for sql, pos in ddls])
    write_feed_chunks(feed.unionByName(q), task.feed_dir, n_chunks=4)
    stats = task.run_all(snapshot, snap_loc)
    assert task.drained and not any(s.get("ddls") for s in stats)

    cols = lake.read().columns
    assert cols.count("score") == 1 and "rating" not in cols
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))
