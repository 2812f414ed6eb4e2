"""Task modes: `all` (snapshot load then catch-up streaming from the
snapshot watermark — full_mode + incremental_mode + all-mode suites),
the `main.py` `replicate` mode, and `main.py ctl`."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.task import Task

from tests.test_pipeline_e2e import KEY, SCHEMA, assert_tables_equal, duck_replay, spark_final


def test_mode_all_snapshot_then_catchup(spark, sf_dir, tmp_path):
    feed = feedmod.change_feed(spark, sf_dir)
    mm = feed.agg(F.min("txn_id"), F.max("txn_id")).collect()[0]
    mid = (mm[0] + mm[1]) // 2

    # the "already migrated" snapshot = replay of the feed prefix
    from dm_spark.operators import ApplyPipeline

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    pre = LakeTable.create(spark, str(tmp_path / "pre"), SCHEMA, KEY, n_buckets=8)
    pre.merge_into(
        ApplyPipeline(cfg).transform(feed.where(F.col("txn_id") <= mid)).drop("target_table")
    )
    snapshot = pre.read()
    snap_loc_row = (
        feed.where(F.col("txn_id") <= mid)
        .agg(F.max(F.struct("file_seq", "pos")).alias("l"))
        .collect()[0]["l"]
    )
    snap_loc = (snap_loc_row["file_seq"], snap_loc_row["pos"])

    # the relay contains the WHOLE feed (prefix would be duplicate
    # delivery); mode `all` must start streaming after the watermark
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    task = Task(
        spark, cfg, lake,
        feed_dir=str(tmp_path / "feed"), checkpoint_dir=str(tmp_path / "cp"),
    )
    write_feed_chunks(feed, task.feed_dir, n_chunks=4)
    task.run_all(snapshot, snap_loc)

    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))
    lag = lake.replication_lag_sec()
    assert lag is not None and lag > 0  # feed ts are in the past


def test_ctl_commands_compose(tmp_path):
    """`main.py ctl` (dmctl analog) read-modify-writes control.json so
    patch-while-paused survives a resume; stop composes onto anything."""
    import json
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    import main as mainmod

    cp = str(tmp_path / "cp")
    assert mainmod.ctl([cp, "pause"]) == 0
    assert mainmod.ctl([cp, "patch", '{"deny_tables": ["db.*"]}']) == 0
    assert mainmod.ctl([cp, "resume"]) == 0
    body = json.load(open(f"{cp}/control.json"))
    assert body == {"config_patch": {"deny_tables": ["db.*"]}}
    assert mainmod.ctl([cp, "stop"]) == 0
    assert json.load(open(f"{cp}/control.json"))["stop"] is True
    # resume clears a previous stop too (a sticky stop would make every
    # task relaunch exit immediately with zero batches)
    assert mainmod.ctl([cp, "resume"]) == 0
    assert "stop" not in json.load(open(f"{cp}/control.json"))
    # malformed patch invocations get usage / a clear error, not a traceback
    assert mainmod.ctl([cp, "patch"]) == 2


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_cli_replicate_mode_resumes_from_cursor(spark, tmp_path, capsys, mode):
    """`main.py` mode `replicate` copies a change-feed source of either
    write mode into the task's lake; a second run after a source merge
    reads only the new rows (the cursor is the replica's batch gate)."""
    import json
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    import main as mainmod

    from tests.test_change_feed import SCHEMA as CF_SCHEMA
    from tests.test_change_feed import _ev, _state

    src = LakeTable.create(
        spark, str(tmp_path / "src"), CF_SCHEMA, ["k"], n_buckets=4,
        write_mode=mode, change_feed=True,
    )
    spec = {
        "name": f"cli_repl_{mode}",
        "mode": "replicate",
        "paths": {
            "src_lake": src.path,
            "lake": str(tmp_path / "dst"),
            "feed": str(tmp_path / "feed"),
            "checkpoint": str(tmp_path / "cp"),
        },
        "schema": [{"name": n, "type": t} for n, t in CF_SCHEMA],
        "task": {
            "key": ["k"],
            "n_buckets": 4,
            # the CLI shares this test session; keep its shuffle width
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        },
    }
    spec_path = tmp_path / "task_replicate.json"
    spec_path.write_text(json.dumps(spec))

    def run() -> list[dict]:
        capsys.readouterr()
        assert mainmod.main(["main.py", str(spec_path)]) == 0
        lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
        return next(ln["batches"] for ln in lines if ln.get("mode") == "replicate")

    src.merge_into(_ev(spark, [
        ("I", "a", 1, "a1", 0, 1), ("I", "b", 1, "b1", 0, 2), ("I", "c", 1, "c1", 0, 3),
    ]), batch_id=0)
    first = run()
    dst = LakeTable(spark, spec["paths"]["lake"])
    assert _state(dst) == _state(src) and first[0]["n_incoming"] == 3

    src.merge_into(_ev(spark, [
        ("U", "a", 2, "a2", 1, 1), ("D", "b", None, None, 1, 2),
    ]), batch_id=1)
    second = run()
    assert _state(dst) == _state(src) == {("a", 2, "a2"), ("c", 1, "c1")}
    assert [s["n_incoming"] for s in second] == [2]
