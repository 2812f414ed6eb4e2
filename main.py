"""dm_spark task runner — the `start-task` analog.

    spark-submit --py-files dm_spark.zip main.py task.yaml
    python main.py examples/task.yaml          # local mode

Task file (YAML or JSON): see `examples/task.yaml`. Modes:
- full:        batch snapshot load (dump+load units)
- incremental: drain the relay feed via Structured Streaming, then stop
- all:         snapshot, then stream from the snapshot watermark
               (both drains exit 1 when a stop, a pause or the timeout
               cut them short; their JSON line says `"drained": false`)
- tail:        tail the relay feed live (until `timeout_sec`, 0 = forever)
- replicate:   copy another lake's change feed (`paths.src_lake`) into
               this lake (`examples/task_replicate.yaml`)

Runtime control of a RUNNING task (dmctl analog, no restart):
    python main.py ctl <checkpoint_dir> pause|resume|stop
    python main.py ctl <checkpoint_dir> patch '{"deny_tables": [...]}'
(an applied patch is recorded beside the checkpoint and re-applied on
every restart while control.json holds it; see CdcStreamDriver docs)
"""

from __future__ import annotations

import json
import os
import sys
import uuid

from dm_spark.config import TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.session import get_spark
from dm_spark.streaming.ddl_coordinator import pending_locks
from dm_spark.streaming.driver import (
    CdcStreamDriver,
    check_binlog_op,
    check_config_patch,
    check_schema_op,
    check_unlock_op,
    read_json,
    stream_batches,
    write_json,
)
from dm_spark.task import Task

# tail mode folds a merge-on-read lake's delta files into base every
# this many batches (the tail kernel's cadence); without it a MoR
# tail's delta files pile up without bound
TAIL_COMPACT_EVERY = 8


def load_task_file(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    if path.endswith(".json"):
        return json.loads(text)
    import yaml

    return yaml.safe_load(text)


def _location(text: str) -> tuple[int, int]:
    """A binlog location written `<file_seq>:<pos>`."""
    try:
        fs, pos = (int(x) for x in text.split(":", 1))
        if fs >= 0 and pos >= 0:
            return fs, pos
    except ValueError:
        pass
    raise ValueError(
        f"location must be <file_seq>:<pos> (non-negative integers), got {text!r}"
    )


def _runner_state(cp_dir: str) -> dict:
    return read_json(os.path.join(cp_dir, "runner_state.json")) or {}


def _pending_locks(cp_dir: str) -> list[dict]:
    """show-ddl-locks from the persisted runner state (written
    atomically after every batch), by the law ReplayRunner.pending_locks
    applies to the live barrier — no driver round-trip."""
    state = _runner_state(cp_dir)
    return pending_locks(state.get("barrier") or {}, state.get("barrier_groups") or {})


def _task_status(cp_dir: str, control: dict, lake_dirs: list[str]) -> dict:
    """query-status analog (dm/ctl/master/query_status.go) from files
    alone: control flags, Spark offset-vs-commit settledness, runner
    coordination summary, and each lake manifest's totals / checkpoint
    / replication lag (the secondsBehindMaster analog: now - max
    applied event ts)."""
    offsets, commits = stream_batches(cp_dir)
    blocked = read_json(os.path.join(cp_dir, "blocked.json"))
    stage = (
        "blocked-on-error" if blocked
        else "paused" if control.get("pause")
        else "stopping" if control.get("stop")
        else "running-or-stopped"
    )
    state = _runner_state(cp_dir)
    applied_ops = {}
    for kind in CdcStreamDriver.OPS:
        op = read_json(os.path.join(cp_dir, f"applied_{kind}.json"))
        if op is not None:
            # an op written by ctl reports its id; a config patch has none
            # (no swappable key is named "id") and reports itself
            applied_ops[f"applied_{kind}"] = op.get("id", op)
    txn = None
    iv = (read_json(os.path.join(cp_dir, "txn_intervals.json")) or {}).get("intervals")
    if iv is not None:
        from dm_spark.lineage import covered_count, interval_gaps

        txn = {
            "n_intervals": len(iv),
            "span": [iv[0][0], iv[-1][1]] if iv else None,
            "covered": covered_count(iv),
            # the GTID-set completeness verdict: any gap is a txn below
            # the high water that never REACHED the applier — a lost
            # relay chunk or a batch skipped past. Deliberately
            # filtered / skip-op'd txns were delivered and do NOT show
            # here (GTID semantics: DM injects an empty txn for skips)
            "gaps": interval_gaps(iv),
        }
    status = {
        "stage": stage,
        "applied_txns": txn,
        # the paused-on-error detail the handle-error flow pivots on:
        # which error blocked the task (the remedy is `ctl binlog
        # skip|replace <loc>` / `ctl unlock`)
        "blocked": blocked,
        "stream": {
            "last_planned_batch": offsets,
            "last_committed_batch": commits,
            "settled": offsets == commits,
        },
        "control": {k: v for k, v in control.items()},
        "applied_ops": applied_ops,
        "runner": {
            "tracked_tables": sorted(state.get("schemas", {})),
            "error_ops": state.get("error_ops", []),
            "unresolved_locks": [lk["lock_id"] for lk in _pending_locks(cp_dir)],
            "rename_map": state.get("rename_map", {}),
            "dropped_tables": state.get("dropped_tables", []),
        } if state else None,
        "lakes": {},
    }
    from dm_spark.lake.table import checkpoint_lag_sec

    for lake_dir in lake_dirs:
        meta_dir = os.path.join(lake_dir, "_meta")
        try:
            with open(os.path.join(meta_dir, "HEAD")) as f:
                v = int(f.read().strip())
            with open(os.path.join(meta_dir, f"v{v}.json")) as f:
                m = json.load(f)
        except (FileNotFoundError, ValueError) as e:
            status["lakes"][lake_dir] = {"error": f"unreadable lake meta: {e}"}
            continue
        cp = m.get("checkpoint") or {}
        lag = checkpoint_lag_sec(cp)
        status["lakes"][lake_dir] = {
            "version": m["version"],
            "last_batch_id": m.get("last_batch_id"),
            "totals": m.get("totals"),
            "checkpoint": cp,
            "lag_sec": lag,
            "write_mode": m.get("write_mode"),
            # merge-on-read compaction backlog: delta files the next
            # compact() folds into base
            "pending_deltas": len(m["deltas"]),
        }
    return status


# argv length (checkpoint dir and command included) below which a ctl
# command prints its usage
_CTL_MIN_ARGS = {"patch": 3, "schema": 4, "binlog": 4, "unlock": 4}


def ctl(argv: list[str]) -> int:
    """dmctl analog for a RUNNING task (no Spark, no restart): tail and
    drain (`incremental`/`all`) modes run one loop that polls
    control.json between micro-batches, so pause, resume, stop and every
    op act on a running drain as on a tail:

        python main.py ctl <checkpoint_dir> pause
        python main.py ctl <checkpoint_dir> resume
        python main.py ctl <checkpoint_dir> stop
        python main.py ctl <checkpoint_dir> patch '{"deny_tables": ["db.*"]}'
        python main.py ctl <checkpoint_dir> schema get <db.table>
        python main.py ctl <checkpoint_dir> schema set <db.table> 'CREATE TABLE ...'
        python main.py ctl <checkpoint_dir> schema remove <db.table>
        python main.py ctl <checkpoint_dir> binlog skip <file_seq>:<pos>
        python main.py ctl <checkpoint_dir> binlog replace <file_seq>:<pos> 'DDL' ['DDL'...]
        python main.py ctl <checkpoint_dir> binlog revert <file_seq>:<pos>
        python main.py ctl <checkpoint_dir> status [lake_dir ...]
        python main.py ctl <checkpoint_dir> ddl-locks
        python main.py ctl <checkpoint_dir> unlock '<lock_id>' <file_seq>:<pos> [skip]

    Every op is composed through the driver's own shape check for its
    kind (`check_*` in dm_spark/streaming/driver.py), so an op the
    driver would refuse never reaches control.json (whether an unlock's
    task has a shard-DDL barrier is checked driver-side).
    `patch` swaps the filter family; a route patch is accepted only
    while the task is paused. A patch the driver applied is recorded
    beside the checkpoint and re-applied on every restart while
    control.json still holds it.

    `schema` is the operate-schema analog (dm/ctl/master/
    operate_schema.go, tests/tracker_ignored_ddl): get reads the
    runner state file directly; set/remove stage through control.json
    and apply at the next batch boundary.

    `binlog` is the handle-error analog (dmctl binlog skip/replace/
    revert, syncer/handle_error.go:32-73; tests/handle_error): register
    a user override at a binlog location on the running task — a task
    blocked on an unsupported DDL or poison DML (run with
    block_on_error) replays its failed batch under the new operator
    instead of needing a restart. `replace` statements are parsed by
    the engine's DDL grammar at compose time and must yield at least
    one schema action between them; injected actions get suffix
    ordinals at the location (Location.Suffix analog).

    `status` is the query-status analog (dm/ctl/master/query_status.go)
    — read-only, no Spark, no driver round-trip: control flags, stream
    offsets-vs-commits settledness, runner coordination summary
    (tracked schemas, error ops, unresolved shard-DDL locks, rename
    chains), and for each optional lake_dir the manifest's version /
    totals / global checkpoint / replication lag.

    `ddl-locks` / `unlock` are the show-ddl-locks / unlock-ddl-lock
    analogs (dm/ctl/master/{show,unlock}_ddl_lock.go): ddl-locks lists
    unresolved pessimistic shard-DDL locks from the runner state;
    unlock force-resolves one on the RUNNING task — default exec
    (apply the locked DDL now, stamped at the supplied location,
    release, drain the spilled DMLs), `skip` releases without
    applying.
    """
    if len(argv) < 2:
        print(ctl.__doc__)
        return 2
    cp_dir, cmd = argv[0], argv[1]
    path = os.path.join(cp_dir, "control.json")
    # read-modify-write so commands compose: patch-while-paused then
    # resume keeps the patch for the driver to apply on restart
    body = read_json(path) or {}
    if len(argv) < _CTL_MIN_ARGS.get(cmd, 2):
        print(ctl.__doc__)
        return 2
    try:
        if cmd == "pause":
            body["pause"] = True
        elif cmd == "resume":
            # resume clears BOTH pause and a previous stop: a stale
            # stop:true would otherwise make every task relaunch exit
            # immediately with zero batches (sticky stop)
            body.pop("pause", None)
            body.pop("stop", None)
        elif cmd == "stop":
            body["stop"] = True
        elif cmd == "patch":
            patch = json.loads(argv[2])
            # routes swap only while paused: the same law the driver
            # applies when it picks the patch up
            check_config_patch(patch, paused=bool(body.get("pause")))
            body["config_patch"] = patch
        elif cmd == "schema":
            sub, table = argv[2], argv[3]
            if sub == "get":
                return _schema_get(cp_dir, table)
            if sub == "set" and len(argv) < 5:
                print(ctl.__doc__)
                return 2
            # each op written here carries a fresh id: the driver
            # applies an op at most once (persisted guard beside the
            # checkpoint), so two intentional writes of byte-identical
            # content must still be distinguishable
            op = {"op": sub, "table": table, "id": uuid.uuid4().hex}
            if sub == "set":
                op["create"] = argv[4]
            check_schema_op(op)
            body["schema_op"] = op
        elif cmd == "binlog":
            fs, pos = _location(argv[3])
            op = {"op": argv[2], "file_seq": fs, "pos": pos, "id": uuid.uuid4().hex}
            if argv[2] == "replace":
                op["sqls"] = argv[4:]
            check_binlog_op(op)
            body["binlog_op"] = op
        elif cmd == "status":
            print(json.dumps(_task_status(cp_dir, body, argv[2:])))
            return 0
        elif cmd == "ddl-locks":
            print(json.dumps({"locks": _pending_locks(cp_dir)}))
            return 0
        elif cmd == "unlock":
            body["unlock_op"] = _unlock_op(cp_dir, argv[2], argv[3], argv[4:])
        else:
            raise SystemExit(f"unknown ctl command {cmd}")
    except ValueError as e:  # JSON, location and shape-check refusals
        raise SystemExit(f"ctl {cmd}: {e}") from e
    write_json(path, body)
    print(json.dumps({"control": body, "path": path}))
    return 0


def _schema_get(cp_dir: str, table: str) -> int:
    """`ctl schema get`: no driver round-trip — the runner persists its
    state (schemas included) next to the checkpoint every batch."""
    state_path = os.path.join(cp_dir, "runner_state.json")
    state = read_json(state_path)
    if state is None:
        raise SystemExit(
            f"schema get: no runner state at {state_path} — the task "
            "has not committed a batch yet"
        )
    schemas = state.get("schemas", {})
    if table not in schemas:
        raise SystemExit(f"schema get: no tracked schema for {table!r} "
                         f"(tracked: {sorted(schemas)})")
    print(json.dumps({"table": table, "schema": schemas[table]}))
    return 0


def _unlock_op(cp_dir: str, lock_id: str, loc: str, rest: list[str]) -> dict:
    """`ctl unlock`: the unlock op for a lock id as printed by `ctl
    ddl-locks`, forced at `loc`."""
    # split at the JSON boundary, not the first '#': backtick
    # identifiers make '#' legal inside a target table name
    # (`t#1`), while the ddl-json always starts with '{'
    sep = lock_id.find("#{")
    if sep < 0:
        raise SystemExit(
            f"unlock: lock id must be '<target>#<ddl-json>' exactly as "
            f"printed by ctl ddl-locks, got {lock_id!r}"
        )
    fs, pos = _location(loc)
    op = {
        "target": lock_id[:sep], "ident": json.loads(lock_id[sep + 1:]),
        "file_seq": fs, "pos": pos,
        "exec": not (rest and rest[0] == "skip"), "id": uuid.uuid4().hex,
    }
    check_unlock_op(op)
    # catch operator typos at compose time: the lock must exist in
    # the last persisted runner state (the driver re-checks live
    # state at apply time; a lock that resolved in between is
    # recorded as spent, not fatal)
    known = [lk["lock_id"] for lk in _pending_locks(cp_dir)]
    if lock_id not in known:
        raise SystemExit(
            f"unlock: no pending lock {lock_id!r} in the runner state "
            f"(pending: {known or 'none'})"
        )
    return op


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    if argv[1] == "ctl":
        return ctl(argv[2:])
    spec = load_task_file(argv[1])
    cfg = TaskConfig.from_dict(spec.get("task", {}))
    mode = spec.get("mode", "incremental")
    paths = spec["paths"]  # {lake, feed, checkpoint}

    spark = get_spark(
        app_name=spec.get("name", "dm_spark_task"),
        master=spec.get("master"),
        shuffle_partitions=cfg.shuffle_partitions,
    )
    lake = LakeTable(spark, paths["lake"])
    if not lake.exists:
        schema = [(c["name"], c["type"]) for c in spec["schema"]]
        lake = LakeTable.create(
            spark,
            paths["lake"],
            schema,
            cfg.key,
            n_buckets=cfg.n_buckets,
            write_mode=spec.get("write_mode", "cow"),
            unique_keys=cfg.unique_keys or None,
        )

    task = Task(spark, cfg, lake, feed_dir=paths["feed"], checkpoint_dir=paths["checkpoint"])
    if mode == "full":
        snapshot = spark.read.parquet(spec["snapshot_path"])
        v = task.run_full(snapshot)
        print(json.dumps({"mode": mode, "version": v}))
    elif mode == "incremental":
        stats = task.run_incremental(
            from_location=tuple(spec["from_location"]) if "from_location" in spec else None,
            max_files_per_trigger=spec.get("max_files_per_trigger", 4),
        )
        print(json.dumps({"mode": mode, "batches": stats, "drained": task.drained}))
    elif mode == "all":
        snapshot = spark.read.parquet(spec["snapshot_path"])
        stats = task.run_all(snapshot, tuple(spec["snapshot_location"]))
        print(json.dumps({"mode": mode, "batches": stats, "drained": task.drained}))
    elif mode == "replicate":
        # lake-to-lake: tail another LakeTable's change feed (CDC-out)
        # by the version cursor, which reads the change log out of the
        # committed manifest (CoW and MoR sources alike). `name` keys
        # the cursor in the replica's batch gate.
        from dm_spark.streaming import replicate_lake_poll

        src = LakeTable(spark, spec["paths"]["src_lake"])
        stats = replicate_lake_poll(
            spark, src, lake, spec.get("name", "replica"),
            timeout_sec=spec.get("timeout_sec", 600),
            poll_sec=spec.get("trigger_sec"),  # None = catch-up + stop
        )
        print(json.dumps({"mode": mode, "batches": stats}))
    elif mode == "tail":
        # live production shape: tail forever (or until timeout_sec)
        stats = task.run_tail(
            trigger_sec=spec.get("trigger_sec", 1.0),
            timeout_sec=spec.get("timeout_sec", 0),
            max_files_per_trigger=spec.get("max_files_per_trigger", 4),
            compact_every=TAIL_COMPACT_EVERY if lake.write_mode == "mor" else None,
        )
        print(json.dumps({"mode": mode, "batches": stats}))
    else:
        raise SystemExit(f"unknown mode {mode}")

    print(
        json.dumps(
            {
                "totals": lake.totals(),
                "checkpoint": lake.global_checkpoint(),
                "lag_sec": lake.replication_lag_sec(),
            }
        )
    )
    # a drain cut short (stop, a pause outlasting the timeout, the
    # timeout itself) left feed unapplied: never report it as success
    return 1 if task.drained is False else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
