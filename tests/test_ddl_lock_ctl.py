"""Shard-DDL lock inspection and forced resolution: the dmctl
show-ddl-locks / unlock-ddl-lock analogs (dm/ctl/master/
show_ddl_locks.go, unlock_ddl_lock.go; tests/dmctl_basic unlock flow),
plus the read-only query-status analog (`ctl status`,
dm/ctl/master/query_status.go). A pessimistic lock whose laggard
member will never announce (shard host dead, table abandoned) is
force-resolved on the RUNNING task: exec applies the locked DDL now
and drains the spilled DMLs; skip releases without applying."""

from __future__ import annotations

import json
import os

import pytest

import main as mainmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.plans import DdlEvent, ReplayRunner
from dm_spark.streaming import CdcStreamDriver
from dm_spark.streaming.ddl_coordinator import PendingSpill, ShardDdlBarrier

from tests.test_lake import CHANGE_DDL, ch
from tests.test_lake import KEY as LAKE_KEY, SCHEMA as LAKE_SCHEMA
from tests.test_replay_runner import KEY, SCHEMA, ev, rows


@pytest.fixture()
def runner(spark, tmp_path):
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=4)
    return ReplayRunner(
        pipeline=ApplyPipeline(cfg),
        lake=lake,
        barrier=ShardDdlBarrier(groups={"transcripts": ["shard_0.t", "shard_1.t"]}),
        spill=PendingSpill(spark, str(tmp_path / "pending")),
    )


def _stick_lock(spark, runner):
    """shard_0 announces add_column; shard_1 never does — the stuck
    lock, with shard_0's post-DDL DML spilled behind it."""
    feed = ev(
        spark,
        [
            ("I", "a", 1, "v1", "shard_0.t", 0, 1),
            ("I", "a", 2, "post-ddl-0", "shard_0.t", 0, 5),  # spills
            ("I", "b", 1, "v1", "shard_1.t", 0, 6),
        ],
    )
    ddls = [DdlEvent("add_column", "shard_0.t", 0, 2, column="rating", new_type="int")]
    runner.registry.seed("shard_0.t", [(c, t) for c, t in SCHEMA])
    runner.replay(feed, ddls)
    got = rows(runner.lake)
    assert ("a", 2, "post-ddl-0") not in got  # spilled, not applied
    assert runner.applied_ddl == []  # DDL still locked
    return got


def test_pending_locks_and_force_unlock_exec(spark, runner):
    _stick_lock(spark, runner)
    locks = runner.pending_locks()
    assert len(locks) == 1
    lk = locks[0]
    assert lk["target"] == "transcripts"
    assert lk["ddl"]["action"] == "add_column" and lk["ddl"]["column"] == "rating"
    assert lk["synced"] == ["shard_0.t"] and lk["unsynced"] == ["shard_1.t"]

    res = runner.force_unlock("transcripts", lk["ddl"], 0, 9)
    assert res["applied"] and res["synced"] == ["shard_0.t"]
    assert "rating" in runner.lake.read().columns  # exec applied the DDL
    # synced member's tracked schema evolved with it
    assert ("rating", "int") in runner.registry.get("shard_0.t")
    assert runner.pending_locks() == []
    assert runner.drain_pending() > 0  # the spill is free now
    assert ("a", 2, "post-ddl-0") in rows(runner.lake)

    # unlocking a non-existent lock refuses with the pending list named
    with pytest.raises(ValueError, match="no pending shard-DDL lock"):
        runner.force_unlock("transcripts", lk["ddl"], 0, 10)


def test_force_unlock_skip_releases_without_apply(spark, runner):
    _stick_lock(spark, runner)
    lk = runner.pending_locks()[0]
    res = runner.force_unlock("transcripts", lk["ddl"], 0, 9, exec_ddl=False)
    assert not res["applied"]
    assert "rating" not in runner.lake.read().columns  # skip: DDL abandoned
    assert runner.pending_locks() == []
    assert runner.drain_pending() > 0
    assert ("a", 2, "post-ddl-0") in rows(runner.lake)


def test_force_unlock_obsolete_location_gates_member_registries(spark, runner):
    """When the lake's ddl_high_water gate refuses the forced location
    as obsolete, NO member registry may evolve either — otherwise
    synced members' tracked schemas diverge from the lake (review r5)."""
    runner.lake.apply_ddl({
        "action": "add_column", "column": "zz", "new_type": "int",
        "file_seq": 9, "pos": 9, "suffix": 0,
    })  # high water now (9,9,0)
    _stick_lock(spark, runner)
    lk = runner.pending_locks()[0]
    res = runner.force_unlock("transcripts", lk["ddl"], 0, 9)  # obsolete loc
    assert not res["applied"]
    assert "rating" not in runner.lake.read().columns
    assert ("rating", "int") not in runner.registry.get("shard_0.t")
    assert runner.pending_locks() == []  # still released (reference-exact)


def test_shrink_drops_lock_whose_only_announcer_left(spark, runner):
    """DROP TABLE of the only announcer must not leave a synced=[]
    ghost lock behind — a lock nobody waits on is not a lock, and
    unlock of one would have nothing to attribute the DDL to."""
    runner.barrier.announce(
        "shard_0.t", {"action": "add_column", "column": "r", "new_type": "int"}
    )
    assert len(runner.pending_locks()) == 1
    runner.barrier.shrink("shard_0.t")
    assert runner.pending_locks() == []


def test_refused_unlock_is_recorded_not_fatal(spark, runner, tmp_path):
    """An unlock whose forced DDL the lake REFUSES (rename of a key
    column) must spend the op and record the refusal instead of
    escaping foreachBatch — an escaped refusal with the op still in
    control.json would re-crash every restart (review r5)."""
    feed = ev(spark, [("I", "a", 1, "v1", "shard_0.t", 0, 1)])
    ddls = [DdlEvent("rename_column", "shard_0.t", 0, 2,
                     column="conv_id", new_name="cid")]
    runner.replay(feed, ddls)  # shard_0 announces; shard_1 never does
    lk = runner.pending_locks()[0]
    cp = str(tmp_path / "cp_refused")
    os.makedirs(cp, exist_ok=True)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, runner.pipeline,
        {"transcripts": runner.lake}, runner=runner,
    )
    op = {"target": "transcripts", "ident": lk["ddl"], "file_seq": 0,
          "pos": 9, "exec": True, "id": "refused-op"}
    drv._apply_op("unlock_op", op)
    rec = [s for s in drv.batch_stats if s.get("unlock_op") == "refused-op"]
    assert rec and "key column" in rec[0]["result"]
    assert drv._applied["unlock_op"] == op  # spent: restarts will not re-fire
    # the lock survives the refusal — the operator re-issues a corrected
    # op (e.g. skip action) with a fresh id
    assert runner.pending_locks() == [lk]


def test_unlock_and_status_via_ctl(spark, runner, tmp_path):
    """The full ctl plumbing: ddl-locks reads the persisted runner
    state; unlock stages through control.json and applies at a batch
    boundary (draining the spill immediately); a stale unlock (lock
    resolved in between) is recorded as spent instead of failing the
    task; status reports the lock and the lake's checkpoint."""
    _stick_lock(spark, runner)
    cp = str(tmp_path / "cp")
    os.makedirs(cp, exist_ok=True)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, runner.pipeline,
        {"transcripts": runner.lake}, runner=runner,
    )
    drv._save_runner_state()

    # ddl-locks: offline view matches the live one
    offline = mainmod._pending_locks(cp)
    assert offline == runner.pending_locks()
    lock_id = offline[0]["lock_id"]

    # status: read-only, no Spark round-trip; a merge-on-read lake
    # also reports its compaction backlog (delta files not yet folded)
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), LAKE_SCHEMA, LAKE_KEY, n_buckets=4, write_mode="mor"
    )
    for i in range(2):
        mor.merge_into(spark.createDataFrame([ch("m", i, "I", "v", 0, i, i)], CHANGE_DDL))
    st = mainmod._task_status(cp, {}, [runner.lake.path, mor.path])
    assert st["runner"]["unresolved_locks"] == [lock_id]
    assert st["lakes"][runner.lake.path]["checkpoint"]["pos"] == 6
    assert st["lakes"][runner.lake.path]["lag_sec"] is not None
    assert st["lakes"][runner.lake.path]["pending_deltas"] == 0
    assert st["lakes"][mor.path]["pending_deltas"] == 2
    mor.compact()
    assert mainmod._task_status(cp, {}, [mor.path])["lakes"][mor.path]["pending_deltas"] == 0

    # compose-time refusal: unknown lock never reaches control.json
    with pytest.raises(SystemExit, match="no pending lock"):
        mainmod.ctl([cp, "unlock", "transcripts#{\"action\": \"nope\"}", "0:9"])
    with pytest.raises(SystemExit, match="lock id must be"):
        mainmod.ctl([cp, "unlock", "not-a-lock-id", "0:9"])

    # the real unlock: compose -> stage -> apply at the batch boundary
    assert mainmod.ctl([cp, "unlock", lock_id, "0:9"]) == 0
    ctl = drv._read_control()
    drv._stage(ctl)
    drv._apply_staged()
    assert "rating" in runner.lake.read().columns
    assert runner.pending_locks() == []
    stat = [s for s in drv.batch_stats if "unlock_op" in s]
    assert stat and stat[-1]["applied"] and stat[-1]["drained"] > 0
    assert ("a", 2, "post-ddl-0") in rows(runner.lake)
    # at-most-once: the same control content stages nothing
    drv._stage(ctl)
    assert "unlock_op" not in drv._staged

    # after resolution the compose path refuses (state shows no lock)...
    drv._save_runner_state()
    with pytest.raises(SystemExit, match="no pending lock"):
        mainmod.ctl([cp, "unlock", lock_id, "0:9"])
    # ...and an op that raced a natural resolve (valid at compose time,
    # gone at apply time) is recorded as spent, not fatal
    stale = {"target": "transcripts", "ident": offline[0]["ddl"],
             "file_seq": 0, "pos": 9, "exec": True, "id": "stale-op"}
    drv._apply_op("unlock_op", stale)
    spent = [s for s in drv.batch_stats if s.get("unlock_op") == "stale-op"]
    assert spent == [{"unlock_op": "stale-op", "result": "lock_already_resolved"}]

    # validate-time refusals name the field
    with pytest.raises(ValueError, match="target"):
        drv._check("unlock_op", {"ident": {"action": "x"}, "file_seq": 0, "pos": 0})
    with pytest.raises(ValueError, match="ident"):
        drv._check("unlock_op", {"target": "t", "file_seq": 0, "pos": 0})
    with pytest.raises(ValueError, match="file_seq/pos"):
        drv._check(
            "unlock_op", {"target": "t", "ident": {"action": "x"}, "file_seq": -1, "pos": 0}
        )
    plain = CdcStreamDriver(
        spark, drv.feed_dir, str(tmp_path / "cp_plain"),
        runner.pipeline, {"transcripts": runner.lake},
    )
    with pytest.raises(ValueError, match="barrier"):
        plain._check(
            "unlock_op", {"target": "t", "ident": {"action": "x"}, "file_seq": 0, "pos": 0}
        )


def test_ctl_ddl_locks_prints_the_live_listing(spark, runner, tmp_path, capsys):
    """`ctl ddl-locks` lists, from the persisted runner state, exactly
    what the live runner's `pending_locks()` reports — one listing law
    (`ddl_coordinator.pending_locks`) for both views."""
    _stick_lock(spark, runner)
    # a second lock on the same target, announced by the other member
    runner.handle_ddl(DdlEvent("drop_column", "shard_1.t", 0, 7, column="tool"))
    cp = str(tmp_path / "cp")
    CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, runner.pipeline,
        {"transcripts": runner.lake}, runner=runner,
    )._save_runner_state()
    capsys.readouterr()
    assert mainmod.ctl([cp, "ddl-locks"]) == 0
    printed = json.loads(capsys.readouterr().out)
    assert printed == {"locks": runner.pending_locks()}
    assert [(lk["synced"], lk["unsynced"]) for lk in printed["locks"]] == [
        (["shard_0.t"], ["shard_1.t"]), (["shard_1.t"], ["shard_0.t"]),
    ]
