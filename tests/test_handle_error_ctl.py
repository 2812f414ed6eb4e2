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
from dm_spark.plans import DdlEvent, ReplayRunner
from dm_spark.schema import parse_ddl
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.streaming import CdcStreamDriver
from dm_spark.streaming.driver import check_binlog_op

from tests.test_pipeline_e2e import (
    KEY,
    SCHEMA,
    assert_tables_equal,
    duck_replay,
    spark_final,
)
from tests.test_replay_runner import ev

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

    # replace: statements parsed at compose time and stored as DdlEvent
    # fields; the inline-DDL escape hatch only marks the refused
    # statement's location, and the runner resolves the operator there
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
        "action": "add_column", "source_table": "shard_0.t", "file_seq": 4,
        "pos": 9, "column": "r2", "new_type": "string", "suffix": 0,
    }]
    inline = feedmod.query_events(spark, [(POISON_SQL, "shard_0.t", 4, 9)])
    evs = drv._extract_inline_ddl(inline)
    assert [(e.action, e.loc()) for e in evs] == [("unsupported", (4, 9, 0))]
    applied = runner.handle_ddl(*evs)
    assert [(a["action"], a["column"], a["suffix"]) for a in applied] == [("add_column", "r2", 1)]

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
    # a driver built without `runner=` runs its own runner, so it takes
    # binlog ops as well
    default = CdcStreamDriver(
        spark, drv.feed_dir, str(tmp_path / "cp_plain"),
        runner.pipeline, {"transcripts": runner.lake},
    )
    assert default._check("binlog_op", {"op": "skip", "file_seq": 0, "pos": 0}) is None


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
    ErrorOperators.resolve -> ReplayRunner._dispatch with the table the
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


# ------------------------------------------------ one resolve, one dispatch
# An error operator resolves once per statement location, in
# ReplayRunner.handle_ddl; every event it yields, whatever its kind,
# goes through the runner's one per-kind dispatch.

CREATE_SQL = (
    "CREATE TABLE shard_0.t (conv_id VARCHAR(64), turn_idx INT, role TEXT, "
    "text TEXT, tool TEXT, ts DATETIME, PRIMARY KEY (conv_id, turn_idx))"
)


def _runner(spark, tmp_path, **kw):
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_d"), SCHEMA, KEY, n_buckets=4)
    return ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake, **kw)


def _replace(runner, fs, pos, *sqls):
    """Register a replace operator exactly as `ctl binlog replace`
    composes it."""
    runner.error_ops.set_replace(fs, pos, check_binlog_op(
        {"op": "replace", "file_seq": fs, "pos": pos, "sqls": list(sqls)}
    ))


def _alter(column="bad"):
    return DdlEvent("add_column", "shard_0.t", 0, 3, column=column, new_type="string")


def _truncate():
    return DdlEvent("truncate_table", "shard_0.t", 0, 3)


@pytest.mark.parametrize("original, sql, optimistic, want", [
    (_alter(), "TRUNCATE TABLE shard_0.t", False,
     lambda r: r.lake.read().count() == 0),
    (_alter(), CREATE_SQL, False,
     lambda r: r.registry.schemas["shard_0.t"][0] == ("conv_id", "string")),
    (_alter(), "DROP DATABASE shard_0", False,
     lambda r: r.dropped_schemas == {"shard_0"}),
    (_truncate(), "ALTER TABLE shard_0.t ADD COLUMN g INT AS (turn_idx + 1)", False,
     lambda r: r.dynamic_generated == {"transcripts": ["g"]} and r.lake.read().count() == 1),
    (_truncate(), "ALTER TABLE shard_0.t ADD UNIQUE KEY u (text)", False,
     lambda r: r.lake.read().count() == 1),
    # TRUNCATE of a shard-group member is filtered (syncer.go:2318-2333)
    (_alter(), "TRUNCATE TABLE shard_0.t", True,
     lambda r: r.lake.read().count() == 1),
], ids=["truncate_at_alter", "create_at_alter", "drop_database_at_alter",
        "generated_at_truncate", "add_unique_at_truncate", "truncate_at_optimistic_alter"])
def test_cross_kind_replacement_dispatches_by_kind(spark, tmp_path, original, sql, optimistic, want):
    """A replacement of any kind applies at a location of any kind: it
    goes through the same per-kind dispatch as a parsed statement,
    never into the column-DDL path of the statement it replaces."""
    runner = _runner(
        spark, tmp_path,
        optimistic_group=["shard_0.t", "shard_1.t"] if optimistic else None,
    )
    runner.replay(ev(spark, [("I", "a", 1, "v1", "shard_0.t", 0, 1)]), [])
    _replace(runner, 0, 3, sql)
    runner.handle_ddl(original)
    assert want(runner)
    assert "bad" not in runner.lake.read().columns


@pytest.mark.parametrize("where", ["multi_clause_alter", "unparseable"])
def test_replace_applies_once_per_location(spark, tmp_path, where):
    """A replace at a location holding several events (a multi-clause
    ALTER) or none the grammar accepts (a refused statement) applies
    each replacement exactly once."""
    drv, runner, _cp = _driver(spark, tmp_path)
    _replace(
        runner, 0, 3,
        "ALTER TABLE shard_0.t ADD COLUMN g INT AS (turn_idx + 1)",
        "ALTER TABLE shard_0.t ADD COLUMN fixed INT",
    )
    if where == "multi_clause_alter":
        evs = parse_ddl("ALTER TABLE shard_0.t ADD COLUMN a1 INT, ADD COLUMN a2 INT", 0, 3)
        assert len(evs) == 2
    else:
        evs = drv._extract_inline_ddl(feedmod.query_events(spark, [(POISON_SQL, "shard_0.t", 0, 3)]))
    runner.replay(ev(spark, [("I", "a", 1, "v1", "shard_0.t", 0, 1)]), evs)
    assert [(a["action"], a["column"], a["suffix"]) for a in runner.applied_ddl] == [
        ("add_generated_column", "g", 1), ("add_column", "fixed", 2),
    ]
    cols = runner.lake.read().columns
    assert "fixed" in cols and not {"a1", "a2", "g"} & set(cols)


def test_replace_keeps_the_default(spark, tmp_path):
    """`binlog replace 'ADD COLUMN ... DEFAULT 7'` backfills existing
    rows with 7, like the same statement arriving in the feed."""
    runner = _runner(spark, tmp_path)
    _replace(runner, 0, 3, "ALTER TABLE shard_0.t ADD COLUMN rating INT DEFAULT 7")
    runner.replay(ev(spark, [("I", "a", 1, "v1", "shard_0.t", 0, 1)]), [_alter()])
    assert [r.rating for r in runner.lake.read().collect()] == [7]


def test_skip_at_ghost_alter_and_at_rename_is_honoured(spark, tmp_path):
    """A skip at a ghost-table ALTER drops the ALTER: nothing is
    buffered, so the swap applies nothing. A skip at the RENAME holds
    the swap back: the ghost's buffered DDLs stay buffered and apply at
    the cut-over that does happen."""
    runner = _runner(spark, tmp_path)
    feed = ev(spark, [("I", "a", 1, "v1", "shard_0.t", 0, 1)])
    ghost = [
        DdlEvent("add_column", "shard_0._t_gho", 0, 3, column="skipped", new_type="int"),
        DdlEvent("add_column", "shard_0._t_gho", 0, 4, column="rating", new_type="int"),
    ]
    runner.error_ops.set_skip(0, 3)
    runner.error_ops.set_skip(0, 5)
    runner.replay(feed, [
        *ghost, DdlEvent("rename_table", "shard_0._t_gho", 0, 5, target_table="shard_0.t"),
    ])
    assert runner.applied_ddl == []
    assert [a["column"] for a in runner.online_ddl.buffered["shard_0.t"]] == ["rating"]
    applied = runner.handle_ddl(
        DdlEvent("rename_table", "shard_0._t_gho", 0, 6, target_table="shard_0.t")
    )
    assert [(a["column"], a["pos"], a["suffix"]) for a in applied] == [("rating", 6, 1)]
    cols = runner.lake.read().columns
    assert "rating" in cols and "skipped" not in cols
