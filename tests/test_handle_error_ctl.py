"""Runtime handle-error surface: `main.py ctl <cp> binlog
skip|replace|revert` (dmctl binlog / handle-error analog,
syncer/handle_error.go:32-73, syncer/err-operator/operator.go:60-173;
exercised by the reference's tests/handle_error suite) — register a
user override at a binlog location on a RUNNING task, so a task
blocked on an unsupported DDL or a poison DML replays its failed batch
under the new operator instead of needing a restart."""

from __future__ import annotations

import os
import threading
import time

import pytest

import main as mainmod
from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.plans import ReplayRunner
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.streaming import CdcStreamDriver

from tests.test_pipeline_e2e import (
    KEY,
    SCHEMA,
    assert_tables_equal,
    duck_replay,
    spark_final,
)

# refused by the DDL grammar: identity changes move data (ddl_parser
# _REJECT_ALTER_RE) — the canonical statement a task blocks on
POISON_SQL = "ALTER TABLE shard_0.transcripts_0 DROP PRIMARY KEY"


def _driver(spark, tmp_path, name="lake", unique_keys=None):
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    lake = LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, KEY, n_buckets=4, unique_keys=unique_keys,
    )
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    cp = str(tmp_path / f"cp_{name}")
    os.makedirs(cp, exist_ok=True)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, runner.pipeline,
        {"transcripts": lake}, runner=runner,
    )
    return drv, runner, cp


def test_binlog_op_validate_apply_and_guards(spark, tmp_path):
    """Compose via main.py ctl, stage + apply at a batch boundary,
    persist in runner state + at-most-once sidecar; malformed ops
    refuse at compose time AND validate time with the field named."""
    drv, runner, cp = _driver(spark, tmp_path)

    # skip: ctl composes, driver stages and applies
    assert mainmod.ctl([cp, "binlog", "skip", "3:77"]) == 0
    ctl = drv._read_control()
    drv._stage(ctl)
    drv._apply_staged()
    assert runner.error_ops.ops[(3, 77)] == {"kind": "skip"}
    # persisted immediately: runner state carries error_ops...
    import json

    with open(os.path.join(cp, "runner_state.json")) as f:
        assert [[3, 77], {"kind": "skip"}] in json.load(f)["error_ops"]
    # ...and the sidecar guards at-most-once across restarts
    assert os.path.exists(os.path.join(cp, "applied_binlog_op.json"))
    drv._stage(ctl)  # same content stages nothing
    assert "binlog_op" not in drv._staged
    # a fresh driver over the same checkpoint loads the sidecar
    drv3 = CdcStreamDriver(
        spark, drv.feed_dir, cp, runner.pipeline,
        {"transcripts": runner.lake}, runner=runner,
    )
    drv3._stage(drv3._read_control())
    assert "binlog_op" not in drv3._staged

    # replace: statements parsed at compose time; actions interop with
    # the inline-DDL escape hatch (rep["source_table"] construction)
    assert mainmod.ctl([
        cp, "binlog", "replace", "4:9",
        "ALTER TABLE shard_0.t ADD COLUMN r2 TEXT",
    ]) == 0
    ctl = drv._read_control()
    drv._stage(ctl)
    drv._apply_staged()
    ov = runner.error_ops.ops[(4, 9)]
    assert ov["kind"] == "replace"
    assert ov["actions"] == [{
        "action": "add_column", "source_table": "shard_0.t",
        "column": "r2", "new_type": "string",
    }]
    inline = feedmod.query_events(spark, [(POISON_SQL, "shard_0.t", 4, 9)])
    evs = drv._extract_inline_ddl(inline)
    assert [(e.action, e.column, e.suffix) for e in evs] == [("add_column", "r2", 1)]

    # revert removes the operator
    assert mainmod.ctl([cp, "binlog", "revert", "4:9"]) == 0
    drv._stage(drv._read_control())
    drv._apply_staged()
    assert (4, 9) not in runner.error_ops.ops

    # compose-time refusals never reach control.json
    before = drv._read_control()
    with pytest.raises(SystemExit, match="location must be"):
        mainmod.ctl([cp, "binlog", "skip", "nope"])
    with pytest.raises(SystemExit, match="skip\\|replace\\|revert"):
        mainmod.ctl([cp, "binlog", "frobnicate", "0:0"])
    with pytest.raises(SystemExit, match="rejected"):
        mainmod.ctl([cp, "binlog", "replace", "0:0", POISON_SQL])
    assert drv._read_control() == before

    # validate-time refusals name the field
    with pytest.raises(ValueError, match="skip\\|replace\\|revert"):
        drv._check("binlog_op", {"op": "frob", "file_seq": 0, "pos": 0})
    with pytest.raises(ValueError, match="file_seq/pos"):
        drv._check("binlog_op", {"op": "skip", "file_seq": -1, "pos": 0})
    with pytest.raises(ValueError, match="sqls"):
        drv._check("binlog_op", {"op": "replace", "file_seq": 0, "pos": 0})
    with pytest.raises(ValueError, match="rejected by the DDL grammar"):
        drv._check(
            "binlog_op", {"op": "replace", "file_seq": 0, "pos": 0, "sqls": [POISON_SQL]}
        )
    plain = CdcStreamDriver(
        spark, drv.feed_dir, str(tmp_path / "cp_plain"),
        runner.pipeline, {"transcripts": runner.lake},
    )
    with pytest.raises(ValueError, match="runner mode"):
        plain._check("binlog_op", {"op": "skip", "file_seq": 0, "pos": 0})


@pytest.mark.parametrize("sqls, ok", [
    (["ALTER TABLE db.t ADD COLUMN c INT"], True),
    # a statement with no schema action rides along with one that has
    (["ALTER TABLE db.t ADD COLUMN c INT", "CREATE INDEX i ON db.t (a)"], True),
    (["CREATE INDEX i ON db.t (a)"], False),
    ([POISON_SQL], False),
    (["ALTER TABLE db.t ADD COLUMN c INT", POISON_SQL], False),
])
def test_binlog_replace_one_law_for_ctl_and_driver(spark, tmp_path, sqls, ok):
    """`main.py ctl binlog replace` and the driver's stage accept and
    refuse the same replace ops: one validator, one law."""
    drv, _runner, cp = _driver(spark, tmp_path)
    try:
        mainmod.ctl([cp, "binlog", "replace", "1:2", *sqls])
        ctl_ok = True
    except SystemExit:
        ctl_ok = False
    try:
        drv._stage({"binlog_op": {
            "op": "replace", "file_seq": 1, "pos": 2, "sqls": sqls, "id": "x",
        }})
        drv_ok = True
    except ValueError:
        drv_ok = False
    assert ctl_ok == drv_ok == ok


def test_ctl_replace_actions_apply_through_resolve(spark, tmp_path):
    """A ctl-composed replace operator's actions must flow through
    ErrorOperators.resolve -> _apply_resolved with the table the
    statement NAMES (serialized as source_table), replacing a parseable
    but wrong DDL at that location."""
    from dm_spark.plans import DdlEvent

    drv, runner, cp = _driver(spark, tmp_path)
    runner.barrier = None
    mainmod.ctl([
        cp, "binlog", "replace", "0:3",
        "ALTER TABLE shard_0.t ADD COLUMN fixed INT",
    ])
    drv._stage(drv._read_control())
    drv._apply_staged()
    runner.handle_ddl(DdlEvent("add_column", "shard_0.t", 0, 3,
                               column="bad", new_type="string"))
    cols = runner.lake.read().columns
    assert "fixed" in cols and "bad" not in cols


@pytest.mark.parametrize("unique_keys", [None, [["conv_id", "ts"]]],
                         ids=["plain_pk", "identity_ladder"])
def test_ctl_replace_at_add_unique_key_applies_replacements(spark, tmp_path, unique_keys):
    """A replace operator at an ADD UNIQUE location applies its
    statements instead of the ADD UNIQUE, whatever the table kind: on
    a plain-PK table (where ADD UNIQUE alone is an advisory no-op) and
    on a declared-ladder table (where ADD UNIQUE alone is refused)."""
    from dm_spark.plans import DdlEvent

    drv, runner, cp = _driver(spark, tmp_path, unique_keys=unique_keys)
    assert mainmod.ctl([
        cp, "binlog", "replace", "0:3", "ALTER TABLE shard_0.t ADD COLUMN c INT",
    ]) == 0
    drv._stage(drv._read_control())
    drv._apply_staged()
    applied = runner.handle_ddl(DdlEvent("add_unique_key", "shard_0.t", 0, 3,
                                         unique_keys=[["role", "text"]]))
    assert [(a["action"], a["column"]) for a in applied] == [("add_column", "c")]
    assert "c" in runner.lake.read().columns


def test_blocked_task_unblocked_by_ctl_binlog_skip(spark, sf_dir, tmp_path):
    """The full handle-error flow on a LIVE task: an unsupported DDL
    arrives in-band mid-feed; the micro-batch fails; with
    block_on_error the driver parks (self.blocked, last_error) instead
    of dying; `main.py ctl <cp> binlog skip <loc>` unblocks it; the
    failed batch replays from checkpoint under the skip operator and
    the final table matches the oracle (the reference's task-paused ->
    dmctl binlog skip -> resume flow, tests/handle_error)."""
    cfg = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")]
    )
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    mx = feed.selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
    final_loc = (mx["file_seq"], mx["pos"])
    # mid-feed location DELIBERATELY shared with a DML: a skip operator
    # is location-surgical and drops the WHOLE event at that position
    # (the reference's handle-error semantics, err-operator/operator.go)
    # — so the oracle excludes that event too
    poison_loc = (0, 500)
    q_rows = feedmod.query_events(
        spark, [(POISON_SQL, "shard_0.transcripts_0", *poison_loc)]
    )
    cp = str(tmp_path / "cp")
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, runner.pipeline,
        {"transcripts": lake}, max_files_per_trigger=2, runner=runner,
    )
    write_feed_chunks(feed.unionByName(q_rows), drv.feed_dir, n_chunks=6)

    def all_applied(d):
        cp_loc = lake.global_checkpoint()
        return bool(cp_loc) and (
            (cp_loc.get("file_seq"), cp_loc.get("pos")) >= final_loc
        )

    err: list = []

    def run():
        try:
            drv.run_continuous(
                trigger_sec=0.2, timeout_sec=300, poll_sec=0.1,
                stop_when=all_applied, block_on_error=True,
            )
        except Exception as e:  # surfaced to the main thread
            err.append(e)

    t = threading.Thread(target=run)
    t.start()
    try:
        deadline = time.time() + 240
        while not drv.blocked and t.is_alive() and time.time() < deadline:
            time.sleep(0.2)
        assert drv.blocked, f"driver never blocked (thread errors: {err})"
        assert "DROP PRIMARY KEY" in (drv.last_error or "")
        # the error NAMES the failing location and the ctl remedy — the
        # operator composes `binlog skip F:P` from this message alone
        assert "binlog skip 0:500" in drv.last_error
        # while blocked, the state is OBSERVABLE from files alone: the
        # sidecar feeds `ctl status` so the operator can tell a blocked
        # task (and the failing error) from a slow or dead one
        st = mainmod._task_status(cp, drv._read_control(), [])
        assert st["stage"] == "blocked-on-error"
        assert "DROP PRIMARY KEY" in st["blocked"]["error"]
        # an op already sitting in control.json unapplied wakes the
        # blocked loop even without a further file change
        assert not drv._pending(drv._read_control())
        # the dmctl intervention — no restart, no direct driver access
        assert mainmod.ctl([cp, "binlog", "skip", "0:500"]) == 0
        assert drv._pending(drv._read_control())
        t.join(240)
        assert not t.is_alive(), "driver did not finish after the skip"
    finally:
        if t.is_alive():
            with open(drv.control_path() + ".tmp", "w") as f:
                f.write('{"stop": true}')
            os.replace(drv.control_path() + ".tmp", drv.control_path())
            t.join(120)
    assert not err, err
    # the op is registered, persisted, and the final state is exact
    assert runner.error_ops.ops.get((0, 500)) == {"kind": "skip"}
    # unblocked: the sidecar is cleared, status no longer says blocked
    assert not os.path.exists(os.path.join(cp, "blocked.json"))
    assert mainmod._task_status(cp, {}, [])["stage"] != "blocked-on-error"
    assert_tables_equal(
        spark_final(lake),
        duck_replay(sf_dir, where="NOT (file_seq = 0 AND pos = 500)"),
    )


def test_pause_route_patch_on_unsettleable_batch_refused_not_crashed(
    spark, sf_dir, tmp_path
):
    """A pause + route patch issued while the IN-FLIGHT batch is the
    failing one: the settle replays the poison batch and fails again —
    the driver must stay alive (paused, cannot-settle sidecar), refuse
    the route patch, and recover once the operator fixes the batch
    (`ctl binlog skip`), finishing with the exact oracle state. The
    pre-fix behavior crashed run_continuous despite block_on_error
    (review r5-2). Also pins the retry gate: while control.json is
    unchanged after a failed settle, the driver must NOT replay the
    poison batch every poll tick (the ~4 Hz settle spin, review r5)."""
    cfg = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")]
    )
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    feed = feedmod.change_feed(spark, sf_dir)
    mx = feed.selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
    final_loc = (mx["file_seq"], mx["pos"])
    poison_loc = (0, 500)
    q_rows = feedmod.query_events(
        spark, [(POISON_SQL, "shard_0.transcripts_0", *poison_loc)]
    )
    cp = str(tmp_path / "cp")
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, runner.pipeline,
        {"transcripts": lake}, max_files_per_trigger=2, runner=runner,
    )
    write_feed_chunks(feed.unionByName(q_rows), drv.feed_dir, n_chunks=6)

    def all_applied(d):
        cp_loc = lake.global_checkpoint()
        return bool(cp_loc) and (
            (cp_loc.get("file_seq"), cp_loc.get("pos")) >= final_loc
        )

    err: list = []
    settle_calls: list = []
    orig_settle = drv._settle_inflight

    def counting_settle():
        settle_calls.append(time.time())
        return orig_settle()

    drv._settle_inflight = counting_settle

    def run():
        try:
            drv.run_continuous(
                trigger_sec=0.2, timeout_sec=300, poll_sec=0.1,
                stop_when=all_applied, block_on_error=True,
            )
        except Exception as e:
            err.append(e)

    t = threading.Thread(target=run)
    t.start()
    sidecar = os.path.join(cp, "blocked.json")
    try:
        deadline = time.time() + 240
        while not drv.blocked and t.is_alive() and time.time() < deadline:
            time.sleep(0.2)
        assert drv.blocked, f"driver never blocked (thread errors: {err})"
        # operator pauses AND patches routes while the failing batch is
        # in flight — the settle must fail and be handled, not crash
        route_patch = {
            "routes": [
                {"pattern": "shard_*.transcripts_*", "target": "transcripts"}
            ]
        }
        assert mainmod.ctl([cp, "pause"]) == 0
        assert (
            mainmod.ctl([cp, "patch", __import__("json").dumps(route_patch)]) == 0
        )
        deadline = time.time() + 120
        msg = ""
        while time.time() < deadline:
            if os.path.exists(sidecar):
                msg = open(sidecar).read()
                if "cannot settle" in msg:
                    break
            time.sleep(0.2)
        assert "cannot settle" in msg, msg
        assert t.is_alive(), f"driver crashed instead of refusing: {err}"
        # patch NOT applied while unsettleable
        assert drv._applied["config_patch"] != route_patch
        # no settle spin: control.json unchanged => no further replays
        # of the poison batch (poll_sec=0.1, so a spin would add ~15)
        n_before = len(settle_calls)
        time.sleep(1.5)
        assert len(settle_calls) == n_before, (
            f"settle retried {len(settle_calls) - n_before} times with "
            "control.json unchanged — the poison-batch replay spin is back"
        )
        # remedy: skip the poison event, then resume
        assert mainmod.ctl([cp, "binlog", "skip", "0:500"]) == 0
        deadline = time.time() + 120
        while time.time() < deadline and os.path.exists(sidecar):
            time.sleep(0.2)
        assert not os.path.exists(sidecar), "sidecar not cleared after skip+settle"
        assert mainmod.ctl([cp, "resume"]) == 0
        t.join(240)
        assert not t.is_alive(), "driver did not finish after resume"
    finally:
        if t.is_alive():
            with open(drv.control_path() + ".tmp", "w") as f:
                f.write('{"stop": true}')
            os.replace(drv.control_path() + ".tmp", drv.control_path())
            t.join(120)
    assert not err, err
    assert_tables_equal(
        spark_final(lake),
        duck_replay(sf_dir, where="NOT (file_seq = 0 AND pos = 500)"),
    )
