"""dm_spark task runner — the `start-task` analog.

    spark-submit --py-files dm_spark.zip main.py task.yaml
    python main.py examples/task.yaml          # local mode

Task file (YAML or JSON): see `examples/task.yaml`. Modes:
- full:        batch snapshot load (dump+load units)
- incremental: drain the relay feed via Structured Streaming, then stop
- all:         snapshot, then stream from the snapshot watermark
- tail:        tail the relay feed live (until `timeout_sec`, 0 = forever)
- replicate:   copy another lake's change feed (`paths.src_lake`) into
               this lake (`examples/task_replicate.yaml`)

Runtime control of a RUNNING task (dmctl analog, no restart):
    python main.py ctl <checkpoint_dir> pause|resume|stop
    python main.py ctl <checkpoint_dir> patch '{"deny_tables": [...]}'
(applied patches persist across resume; see CdcStreamDriver docs)
"""

from __future__ import annotations

import json
import sys

from dm_spark.config import TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.session import get_spark
from dm_spark.task import Task, replication_lag_sec

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


def _runner_state(cp_dir: str) -> dict:
    import os

    try:
        with open(os.path.join(cp_dir, "runner_state.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _pending_locks(cp_dir: str) -> list[dict]:
    """show-ddl-locks from the persisted runner state (written
    atomically after every batch) — same shape as
    ReplayRunner.pending_locks, no driver round-trip."""
    state = _runner_state(cp_dir)
    groups = state.get("barrier_groups") or {}
    out = []
    for tgt, per in sorted((state.get("barrier") or {}).items()):
        members = set(groups.get(tgt, []))
        for k, seen in sorted(per.items()):
            out.append({
                "lock_id": f"{tgt}#{k}",
                "target": tgt,
                "ddl": json.loads(k),
                "synced": sorted(seen),
                "unsynced": sorted(members - set(seen)),
            })
    return out


def _task_status(cp_dir: str, control: dict, lake_dirs: list[str]) -> dict:
    """query-status analog (dm/ctl/master/query_status.go) from files
    alone: control flags, Spark offset-vs-commit settledness, runner
    coordination summary, and each lake manifest's totals / checkpoint
    / replication lag (the secondsBehindMaster analog: now - max
    applied event ts)."""
    import os

    def latest(sub: str) -> int:
        d = os.path.join(cp_dir, sub)
        try:
            return max((int(f) for f in os.listdir(d) if f.isdigit()), default=-1)
        except FileNotFoundError:
            return -1

    offsets, commits = latest("offsets"), latest("commits")
    blocked = None
    try:
        with open(os.path.join(cp_dir, "blocked.json")) as f:
            blocked = json.load(f)
    except FileNotFoundError:
        pass
    stage = (
        "blocked-on-error" if blocked
        else "paused" if control.get("pause")
        else "stopping" if control.get("stop")
        else "running-or-stopped"
    )
    state = _runner_state(cp_dir)
    applied_ops = {}
    for name in ("applied_schema_op", "applied_binlog_op", "applied_unlock_op"):
        try:
            with open(os.path.join(cp_dir, f"{name}.json")) as f:
                applied_ops[name] = json.load(f).get("id")
        except FileNotFoundError:
            pass
    txn = None
    try:
        with open(os.path.join(cp_dir, "txn_intervals.json")) as f:
            iv = json.load(f)["intervals"]
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
    except FileNotFoundError:
        pass
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


def ctl(argv: list[str]) -> int:
    """dmctl analog for a RUNNING tail/incremental task (no Spark, no
    restart — the driver polls control.json between micro-batches):

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

    `schema` is the operate-schema analog (dm/ctl/master/
    operate_schema.go, tests/tracker_ignored_ddl): get reads the
    runner state file directly; set/remove stage through control.json
    and apply at the next batch boundary (runner-mode tasks only).

    `binlog` is the handle-error analog (dmctl binlog skip/replace/
    revert, syncer/handle_error.go:32-73; tests/handle_error): register
    a user override at a binlog location on the running task — a task
    blocked on an unsupported DDL or poison DML (run with
    block_on_error) replays its failed batch under the new operator
    instead of needing a restart. `replace` statements are parsed by
    the engine's DDL grammar at compose time; injected actions get
    suffix ordinals at the location (Location.Suffix analog).

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
    import os

    if len(argv) < 2:
        print(ctl.__doc__)
        return 2
    cp_dir, cmd = argv[0], argv[1]
    path = os.path.join(cp_dir, "control.json")
    # read-modify-write so commands compose: patch-while-paused then
    # resume keeps the patch for the driver to apply on restart
    try:
        with open(path) as f:
            body = json.load(f)
    except FileNotFoundError:
        body = {}
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
        if len(argv) < 3:
            print(ctl.__doc__)
            return 2
        try:
            body["config_patch"] = json.loads(argv[2])
        except json.JSONDecodeError as e:
            raise SystemExit(f"ctl patch: invalid JSON ({e}): {argv[2]!r}") from e
    elif cmd == "schema":
        if len(argv) < 4:
            print(ctl.__doc__)
            return 2
        sub, table = argv[2], argv[3]
        if sub == "get":
            # no driver round-trip: the runner persists its state
            # (schemas included) next to the checkpoint every batch
            state_path = os.path.join(cp_dir, "runner_state.json")
            try:
                with open(state_path) as f:
                    schemas = json.load(f).get("schemas", {})
            except FileNotFoundError:
                raise SystemExit(
                    f"schema get: no runner state at {state_path} — the task "
                    "has not committed a batch yet, or is not in runner mode"
                ) from None
            if table not in schemas:
                raise SystemExit(f"schema get: no tracked schema for {table!r} "
                                 f"(tracked: {sorted(schemas)})")
            print(json.dumps({"table": table, "schema": schemas[table]}))
            return 0
        # each issued op carries a fresh id: the driver applies an op at
        # most once (persisted guard beside the checkpoint), so two
        # intentional issues of byte-identical content must still be
        # distinguishable
        import uuid

        if sub == "set":
            if len(argv) < 5:
                print(ctl.__doc__)
                return 2
            # refuse malformed statements HERE, before they reach
            # control.json — the driver validates again at stage time,
            # but a bad op written to the control file would loudly kill
            # the poll loop on every restart until hand-removed
            from dm_spark.schema.ddl_parser import UnsupportedDdl, parse_ddl

            try:
                evs = parse_ddl(argv[4], 0, 0)
            except UnsupportedDdl as e:
                raise SystemExit(f"schema set: statement rejected: {e}") from e
            if len(evs) != 1 or evs[0].action != "create_table":
                raise SystemExit(
                    "schema set: need a single CREATE TABLE statement, "
                    f"parsed to {[e.action for e in evs]}"
                )
            if evs[0].source_table and evs[0].source_table != table:
                raise SystemExit(
                    f"schema set: statement names {evs[0].source_table!r} "
                    f"but the op targets {table!r}"
                )
            body["schema_op"] = {
                "op": "set", "table": table, "create": argv[4],
                "id": uuid.uuid4().hex,
            }
        elif sub == "remove":
            body["schema_op"] = {
                "op": "remove", "table": table, "id": uuid.uuid4().hex,
            }
        else:
            raise SystemExit(f"unknown schema subcommand {sub}")
    elif cmd == "binlog":
        if len(argv) < 4:
            print(ctl.__doc__)
            return 2
        sub, loc = argv[2], argv[3]
        if sub not in ("skip", "replace", "revert"):
            raise SystemExit(f"unknown binlog subcommand {sub} (skip|replace|revert)")
        try:
            fs_s, pos_s = loc.split(":", 1)
            fs, pos = int(fs_s), int(pos_s)
            if fs < 0 or pos < 0:
                raise ValueError
        except ValueError:
            raise SystemExit(
                f"binlog {sub}: location must be <file_seq>:<pos> "
                f"(non-negative integers), got {loc!r}"
            ) from None
        import uuid

        op = {"op": sub, "file_seq": fs, "pos": pos, "id": uuid.uuid4().hex}
        if sub == "replace":
            sqls = argv[4:]
            if not sqls:
                print(ctl.__doc__)
                return 2
            # refuse statements the engine's grammar rejects HERE,
            # before they reach control.json (the driver validates
            # again at stage time, but a bad op in the control file
            # would loudly kill the poll loop until hand-removed)
            from dm_spark.schema.ddl_parser import UnsupportedDdl, parse_ddl

            for s in sqls:
                try:
                    if not parse_ddl(s, fs, pos):
                        raise SystemExit(
                            f"binlog replace: statement parses to no schema "
                            f"action (nothing to inject): {s!r}"
                        )
                except UnsupportedDdl as e:
                    raise SystemExit(f"binlog replace: statement rejected: {e}") from e
            op["sqls"] = list(sqls)
        body["binlog_op"] = op
    elif cmd == "status":
        print(json.dumps(_task_status(cp_dir, body, argv[2:])))
        return 0
    elif cmd == "ddl-locks":
        print(json.dumps({"locks": _pending_locks(cp_dir)}))
        return 0
    elif cmd == "unlock":
        if len(argv) < 4:
            print(ctl.__doc__)
            return 2
        lock_id, loc = argv[2], argv[3]
        # split at the JSON boundary, not the first '#': backtick
        # identifiers make '#' legal inside a target table name
        # (`t#1`), while the ddl-json always starts with '{'
        sep = lock_id.find("#{")
        if sep < 0:
            raise SystemExit(
                f"unlock: lock id must be '<target>#<ddl-json>' exactly as "
                f"printed by ctl ddl-locks, got {lock_id!r}"
            )
        target, key = lock_id[:sep], lock_id[sep + 1:]
        try:
            ident = json.loads(key)
        except json.JSONDecodeError as e:
            raise SystemExit(f"unlock: lock id carries invalid DDL JSON ({e})") from e
        try:
            fs_s, pos_s = loc.split(":", 1)
            fs, pos = int(fs_s), int(pos_s)
            if fs < 0 or pos < 0:
                raise ValueError
        except ValueError:
            raise SystemExit(
                f"unlock: location must be <file_seq>:<pos> (non-negative "
                f"integers, where the forced DDL is stamped), got {loc!r}"
            ) from None
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
        import uuid

        body["unlock_op"] = {
            "target": target, "ident": ident, "file_seq": fs, "pos": pos,
            "exec": not (len(argv) > 4 and argv[4] == "skip"),
            "id": uuid.uuid4().hex,
        }
    else:
        raise SystemExit(f"unknown ctl command {cmd}")
    os.makedirs(cp_dir, exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(body, f)
    os.replace(tmp, path)
    print(json.dumps({"control": body, "path": path}))
    return 0


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
        print(json.dumps({"mode": mode, "batches": stats}))
    elif mode == "all":
        snapshot = spark.read.parquet(spec["snapshot_path"])
        stats = task.run_all(snapshot, tuple(spec["snapshot_location"]))
        print(json.dumps({"mode": mode, "batches": stats}))
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
                "lag_sec": replication_lag_sec(lake),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
