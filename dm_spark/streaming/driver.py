"""Streaming driver: relay feed -> foreachBatch apply -> lake MERGE.

The syncer main loop (syncer/syncer.go:1280 `Run`) becomes a Structured
Streaming query:

- micro-batch boundary == XID/flush barrier (syncer/syncer.go:1811-1848,
  :1055-1115): every batch ends with checkpoint rows and an atomic lake
  snapshot commit, so Spark's epoch IS the flush.
- exactly-once: Spark file-source offsets (which files were read) +
  `merge_into(batch_id, stream_id)` gating on the lake side, carried by
  each batch's first location range. A replayed batch after
  crash-restart is skipped by the gate (a DDL-cut one re-merges only
  the ranges after its first, a contiguous suffix that LWW and the
  applied-DDL location gate make idempotent); a redelivered event from
  a fresh checkpoint loses last-write-wins. Both paths keep the final
  table state identical (safe-mode analog, syncer/mode.go:26-68).
- lag metric: `now - max(applied event ts)` (secondsBehindMaster analog,
  syncer/syncer.go:802-845) recorded per batch in the lineage log.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import time
import uuid
from urllib.parse import unquote, urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.sources.relay import read_feed_stream


def read_json(path: str):
    """The JSON document saved at `path`, or None if there is none."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def write_json(path: str, doc) -> None:
    """Save `doc` at `path` atomically: a uniquely named tmp file
    beside it, then os.replace, so a reader sees the old document or
    the new one, never a partial write — and two concurrent writers
    never tear each other's tmp file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


def stream_batches(checkpoint_dir: str) -> tuple[int, int]:
    """The newest planned (offset log) and committed (commit log)
    micro-batch ids of a Spark stream checkpoint; -1 where none."""

    def latest(sub: str) -> int:
        try:
            names = os.listdir(os.path.join(checkpoint_dir, sub))
        except FileNotFoundError:
            return -1
        return max((int(f) for f in names if f.isdigit()), default=-1)

    return latest("offsets"), latest("commits")


MAX_INLINE_DDL_PER_BATCH = 1000  # op='Q' collect cap, see _extract_inline_ddl


# ---------------------------------------------- control-op shape checks
# One validator per control-file op kind. `main.py ctl` composes every
# op through these, so a bad op is refused before it reaches
# control.json (where it would kill the poll loop on every restart
# until removed by hand); the driver runs the same check
# (CdcStreamDriver._check) when it stages or applies the op.

# the runtime-swappable subset: the filter family (the reference's
# update-task + handle-error surface). Route changes are swappable
# only while PAUSED (pause -> patch -> resume, the reference's
# pause-task/update-task/resume-task flow, tests/dmctl_basic);
# key/bucket changes alter merge semantics and always need a
# restart — rejected loudly (rescale() exists for rebucketing).
_PATCHABLE = ("allow_tables", "deny_tables", "event_filters",
              "expr_filters", "ddl_filters")
_PAUSED_PATCHABLE = ("routes",)


def check_config_patch(patch: dict, paused: bool) -> None:
    if not isinstance(patch, dict):
        raise ValueError(f"config_patch must be a JSON object, got {patch!r}")
    allowed = _PATCHABLE + (_PAUSED_PATCHABLE if paused else ())
    bad = set(patch) - set(allowed)
    if bad:
        hint = (
            "routes are swappable only while PAUSED (pause -> patch "
            "-> resume); " if "routes" in bad and not paused else ""
        )
        raise ValueError(
            f"config_patch keys {sorted(bad)} are not runtime-swappable "
            f"(allowed here: {list(allowed)}); {hint}key/bucket changes "
            "need a task restart (rescale() for rebucketing)"
        )


def _parse_ddl(what: str, sql: str, file_seq: int, pos: int) -> list:
    from dm_spark.schema.ddl_parser import UnsupportedDdl, parse_ddl

    try:
        return parse_ddl(sql, file_seq, pos)
    except UnsupportedDdl as e:
        raise ValueError(
            f"{what}: statement rejected by the DDL grammar ({e}): {sql!r}"
        ) from e


def _check_location(kind: str, op: dict) -> None:
    fs, pos = op.get("file_seq"), op.get("pos")
    if not (isinstance(fs, int) and isinstance(pos, int) and fs >= 0 and pos >= 0):
        raise ValueError(
            f"{kind} needs integer file_seq/pos >= 0, got ({fs!r}, {pos!r})"
        )


def check_schema_op(op: dict):
    """operate-schema `set|remove`, parsing the CREATE TABLE of a set;
    returns its DdlEvent, or None for remove."""
    kind = op.get("op")
    if kind not in ("set", "remove"):
        raise ValueError(f"schema_op.op must be set|remove, got {kind!r}")
    if not op.get("table"):
        raise ValueError("schema_op needs a table ('db.table')")
    if kind != "set":
        return None
    if not op.get("create"):
        raise ValueError(
            "schema_op set needs 'create': a CREATE TABLE statement "
            "(the reference's operate-schema set takes a schema file "
            "holding one, dm/ctl/master/operate_schema.go:30-40)"
        )
    evs = _parse_ddl("schema_op set", op["create"], 0, 0)
    if len(evs) != 1 or evs[0].action != "create_table":
        raise ValueError(
            "schema_op set: 'create' must be a single CREATE TABLE "
            f"statement, parsed to {[e.action for e in evs]}"
        )
    ev = evs[0]
    # a statement naming a DIFFERENT table (copy-paste of another
    # shard's DDL) would silently install that table's shape under
    # this op's key — refuse instead of trusting the op key
    if ev.source_table and ev.source_table != op["table"]:
        raise ValueError(
            f"schema_op set: the CREATE TABLE statement names "
            f"{ev.source_table!r} but the op targets {op['table']!r} — "
            "refusing to install one table's schema under another's key"
        )
    return ev


def check_binlog_op(op: dict):
    """handle-error `skip|replace|revert` at a location, parsing every
    replacement statement of a replace; returns the replacement events
    as DdlEvent field dicts (`DdlEvent.to_dict`), or None for
    skip/revert. A replace must yield at least one action over all its
    statements (a statement that parses to none,
    such as CREATE INDEX, may ride along with one that does)."""
    kind = op.get("op")
    if kind not in ("skip", "replace", "revert"):
        raise ValueError(f"binlog_op.op must be skip|replace|revert, got {kind!r}")
    _check_location("binlog_op", op)
    if kind != "replace":
        return None
    sqls = op.get("sqls")
    if not sqls or not isinstance(sqls, list):
        raise ValueError(
            "binlog_op replace needs 'sqls': a non-empty list of DDL "
            "statements to inject at the location (the reference's "
            "handle-error replace, syncer/handle_error.go:32-73)"
        )
    actions = [
        ev.to_dict()
        for sql in sqls
        for ev in _parse_ddl("binlog_op replace", sql, op["file_seq"], op["pos"])
    ]
    if not actions:
        raise ValueError("binlog_op replace: sqls parsed to zero actions")
    return actions


def check_unlock_op(op: dict) -> None:
    """unlock-ddl-lock: the locked DDL's target and identity, and the
    location the forced DDL is stamped at. The LOCK's existence is
    checked at apply time (it may resolve naturally between stage and
    apply — a stale unlock is recorded, not fatal)."""
    if not op.get("target"):
        raise ValueError("unlock_op needs a target table")
    ident = op.get("ident")
    if not isinstance(ident, dict) or not ident.get("action"):
        raise ValueError(
            "unlock_op needs 'ident': the locked DDL's identity dict "
            "(the `ddl` field of a ctl ddl-locks entry)"
        )
    _check_location("unlock_op", op)


class CdcStreamDriver:
    """Every micro-batch replays through one `ReplayRunner`, its DDL
    (in-band op='Q' rows, queued `ddl_events`) applied at its location.
    Without `runner=` the driver builds one over `pipeline` and `lakes`;
    a given runner brings its own."""

    def __init__(
        self,
        spark: SparkSession,
        feed_dir: str,
        checkpoint_dir: str,
        pipeline: ApplyPipeline,
        lakes: dict[str, LakeTable],
        max_files_per_trigger: int | None = 1,
        runner: "ReplayRunner | None" = None,
        ddl_events: list | None = None,
        compact_every: int | None = None,
        epoch: int = 0,
        track_txn_intervals: bool = False,
    ):
        from dm_spark.plans import ReplayRunner

        self.spark = spark
        self.feed_dir = feed_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        # stream identity ties the lake's batch-id gate to this checkpoint
        self.stream_id = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:16]
        self.batch_stats: list[dict] = []
        self.runner = runner or ReplayRunner(pipeline=pipeline, lakes=lakes)
        # upstream binlog epoch (bumped after a source re-master restarts
        # file_seq), threaded by the runner into every merge; the
        # default 0 never overrides an epoch set on a given runner
        if epoch:
            self.runner.epoch = epoch
        self.ddl_events = sorted(ddl_events or [], key=lambda e: e.loc())
        # crash durability (sharding-meta analog): restore barrier/
        # tracker/online-DDL state saved after the last batch — spilled
        # rows are already on disk, this remembers WHY they wait
        self._runner_state_path = os.path.join(checkpoint_dir, "runner_state.json")
        state = read_json(self._runner_state_path)
        if state is not None:
            self.runner.restore_state(state)
        # control-file ops (OPS) apply at most once each: the
        # last applied op of each kind persists beside the checkpoint;
        # `_staged` holds ops the poll thread validated, waiting for the
        # next batch boundary
        self._applied = {
            k: read_json(os.path.join(checkpoint_dir, f"applied_{k}.json"))
            for k in self.OPS
        }
        self._staged: dict = {}
        # GTID-set analog (opt-in, dm_spark/lineage.py): the applied
        # txn_id interval set, folded per micro-batch and persisted
        # beside the checkpoint — a semilattice, so crash-replayed
        # batches are absorbed idempotently; `ctl status` reports any
        # gap (a transaction below the high water that never applied)
        self.track_txn_intervals = track_txn_intervals
        self._txn_intervals_path = os.path.join(checkpoint_dir, "txn_intervals.json")
        saved = read_json(self._txn_intervals_path) if track_txn_intervals else None
        self.txn_intervals: list[list[int]] = saved["intervals"] if saved else []
        # MoR maintenance: fold delta files back into base every N
        # batches (the rewrite_data_files scheduling a table service
        # would own on a real lakehouse)
        self.compact_every = compact_every

    @property
    def pipeline(self) -> ApplyPipeline:
        return self.runner.pipeline

    def _may_hold_queries(self, batch_id: int) -> bool:
        """Whether micro-batch `batch_id` may carry op='Q' rows, read off
        its relay files' `op` columns with pyarrow (a Spark job here
        would cost every DDL-free batch a second job). The file source
        logs each batch's files in `sources/0/<batch_id>` of the
        checkpoint, or in `<batch_id>.compact` on every 10th batch.
        True whenever the file list cannot be read."""
        log = os.path.join(self.checkpoint_dir, "sources", "0", str(batch_id))
        try:
            with open(log if os.path.exists(log) else f"{log}.compact") as f:
                entries = [json.loads(ln) for ln in f.read().splitlines()[1:]]
            urls = [urlparse(e["path"]) for e in entries if e["batchId"] == batch_id]
            if not urls or any(u.scheme != "file" for u in urls):
                return True
            ops = pq.read_table([unquote(u.path) for u in urls], columns=["op"])["op"]
            return bool(pc.any(pc.equal(ops, "Q")).as_py())
        except (OSError, KeyError, ValueError):
            return True

    def _extract_inline_ddl(self, batch_df: DataFrame) -> list:
        """In-band DDL: relay rows with op='Q' are query events whose
        payload (the raw SQL statement — exactly the reference's
        QueryEvent.Query, syncer/syncer.go:2253 handleQueryEvent) rides
        `after.text`. They are parsed into DdlEvents here, at their
        binlog location, so a user never has to side-channel schema
        changes — ALTERs written into the feed just work. Rows at or
        below the pipeline's location floor are obsolete (mode `all`
        redelivers the pre-snapshot feed, whose DDL the snapshot already
        carries), as its DMLs are. The collect is HARD-BOUNDED at
        `MAX_INLINE_DDL_PER_BATCH` (+1 sentinel row): DDLs are rare by
        nature, but a gh-ost backfill or a migration replay can emit
        thousands of query events in one micro-batch, and an uncapped
        collect would be a driver-OOM vector — past the cap the driver
        fails loudly with the remedy (a smaller max_files_per_trigger)
        instead of silently ballooning (the reference processes one
        query event at a time, syncer/syncer.go:2154, and cannot OOM
        here). An UnsupportedDdl statement raises unless an error
        operator covers that location (the handle-error escape hatch,
        syncer/handle_error.go); a covered one stands at its location
        as an `unsupported` event, and the runner resolves the operator
        there (ReplayRunner.handle_ddl) — the driver never expands it."""
        from dm_spark.plans import DdlEvent
        from dm_spark.schema import UnsupportedDdl, parse_ddl

        cap = MAX_INLINE_DDL_PER_BATCH
        qrows = (
            batch_df.where(F.col("op") == "Q")
            .select(F.col("after.text").alias("sql"), "source_table", "file_seq", "pos")
            .limit(cap + 1)
            .collect()
        )
        if len(qrows) > cap:
            raise RuntimeError(
                f"micro-batch carries more than {cap} op='Q' query events "
                "(DDL storm — gh-ost backfill or migration replay?); "
                "lower max_files_per_trigger so the batch shrinks"
            )
        out = []
        floor = self.pipeline.location_floor or (-1, -1)
        for r in sorted(qrows, key=lambda r: (r["file_seq"], r["pos"])):
            if (r["file_seq"], r["pos"]) <= floor:
                continue
            try:
                out.extend(parse_ddl(r["sql"], r["file_seq"], r["pos"]))
            except UnsupportedDdl as e:
                if (r["file_seq"], r["pos"]) not in self.runner.error_ops.ops:
                    # name the LOCATION and the remedy: the handle-error
                    # flow needs file_seq:pos to compose the ctl command,
                    # and this message is what `ctl status` surfaces to
                    # a blocked task's operator
                    raise UnsupportedDdl(
                        f"{e} — at binlog location "
                        f"{r['file_seq']}:{r['pos']}; skip or replace it: "
                        f"main.py ctl <checkpoint_dir> binlog skip "
                        f"{r['file_seq']}:{r['pos']}"
                    ) from e
                out.append(DdlEvent("unsupported", r["source_table"] or "", r["file_seq"], r["pos"]))
        return out

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        t_start = time.time()
        self._apply_staged()  # batch boundary: control ops land here
        # a DDL-free batch costs its merge's job(s) alone: the Q-row
        # collect runs only when the batch's files may hold one
        inline = self._extract_inline_ddl(batch_df) if self._may_hold_queries(batch_id) else []
        side = []
        if self.ddl_events:  # no queue, no max-location job
            mx = batch_df.agg(F.max(F.struct("file_seq", "pos"))).collect()[0][0]
            side = [
                e for e in self.ddl_events
                if mx is not None and e.loc()[:2] <= (mx["file_seq"], mx["pos"])
            ]
        due = sorted([*side, *inline], key=lambda e: e.loc())
        # persist ONLY when the batch is read more than once: per range
        # of a DDL cut, and by the txn-interval fold (a multi-target
        # merge pins the flat batch itself, a pruning CoW merge its own
        # input); caching every live-tail batch cost ~25% of its time
        multi_pass = bool(due) or self.track_txn_intervals
        if multi_pass:
            batch_df.persist()
        try:
            merged = self.runner.replay(
                self.pipeline.without_queries(batch_df), due,
                batch_id=batch_id, stream_id=self.stream_id,
            )
            # side-channel DDLs leave the queue only once applied: an
            # interrupted batch (stop mid-merge) replays from the
            # checkpoint and must find them still due (the lake's
            # applied-DDL location gate makes the re-apply a no-op)
            self.ddl_events = self.ddl_events[len(side):]
            self._save_runner_state()
            # lakes whose batch-id gate refused a replayed batch merged
            # nothing and need no compaction
            fresh = {t for t, st in merged if not st.skipped}
            if self.compact_every and (batch_id + 1) % self.compact_every == 0:
                for t in fresh:
                    self.runner.lakes[t].compact()
            lags = [lk.replication_lag_sec() for lk in self.runner.lakes.values()]
            lags = [x for x in lags if x is not None]
            stats = [st for _t, st in merged]
            self.batch_stats.append({
                "batch_id": batch_id,
                "skipped": bool(merged) and not fresh,
                "ddls": len(due),
                "n_incoming": sum(st.n_incoming for st in stats),
                "rows_written": sum(st.rows_written for st in stats),
                "buckets_touched": sum(st.n_buckets_touched for st in stats),
                # the furthest-behind target's lag
                "lag_sec": max(lags) if lags else None,
                # merge and compaction
                "sec": round(time.time() - t_start, 3),
            })
            self._fold_txn_intervals(batch_df)
        finally:
            if multi_pass:
                batch_df.unpersist()

    # ------------------------------------------------- live control file
    # dmctl's runtime task surface (pause-task / resume-task /
    # stop-task, dm/ctl/master/*.go; update-task's filter subset;
    # exercised by tests/dmctl_basic) re-expressed without a control
    # plane: a JSON file next to the checkpoint, polled between
    # micro-batches by the run loop (`_run`) of tail and drain alike.
    #   {"pause": true}              pause consumption (query stopped;
    #                                resumes from checkpoint on clear)
    #   {"stop": true}               graceful stop (drain current batch)
    #   {"config_patch": {...}}      swap the FILTER family of the task
    #                                config at a batch boundary; route
    #                                rules additionally swap while PAUSED
    #                                (pause -> patch -> resume)
    #   {"schema_op": {...}}         operate-schema: overwrite or drop the
    #                                schema tracker's view of a table
    #   {"binlog_op": {...}}         handle-error: register a skip/
    #                                replace/revert error operator at a
    #                                binlog location on the running task
    #                                (dmctl binlog, syncer/handle_error.go)
    #   {"unlock_op": {...}}         force-resolve a stuck pessimistic
    #                                shard-DDL lock (dmctl
    #                                unlock-ddl-lock) and drain its spill
    # The four op kinds share one ledger (OPS): staged by the poll
    # thread, applied at a batch boundary, recorded once applied.
    def control_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "control.json")

    def _read_control(self) -> dict:
        try:
            return read_json(self.control_path()) or {}
        except json.JSONDecodeError as e:
            # a malformed control file must not be treated as "no
            # control" — the operator thinks the stream is paused.
            # Writers must write ATOMICALLY (write_json, as `main.py
            # ctl` does): this poller runs sub-second and WILL observe
            # a partial plain-write
            raise RuntimeError(f"malformed control file {self.control_path()}: {e}") from e

    def _pending(self, ctl: dict) -> dict:
        """The ops in `ctl` this driver has not applied, in ledger
        order — also the blocked-task wake condition."""
        return {k: ctl[k] for k in self.OPS if ctl.get(k) and ctl[k] != self._applied[k]}

    def _check(self, kind: str, op: dict, paused: bool = False):
        """The kind's shape check (and, for an unlock, that a shard-DDL
        barrier exists to hold locks); returns what the check parsed."""
        if kind == "config_patch":
            return check_config_patch(op, paused)
        if kind == "unlock_op" and self.runner.barrier is None:
            raise ValueError(
                "unlock_op needs a runner with a pessimistic shard-DDL "
                "barrier (no locks exist on this task)"
            )
        return self.OPS[kind][0](op)

    def _stage(self, ctl: dict) -> None:
        """Poll-thread side: validate each unapplied op in `ctl` and
        stage it. The ops apply at the top of the next `_apply` (a true
        batch boundary): the runner consults the pipeline config, the
        schema registry and the error operators repeatedly inside one
        replay, so an op landing mid-batch would run half a micro-batch
        under old rules and half under new. A bad op is refused here,
        never first discovered inside foreachBatch."""
        for kind, op in self._pending(ctl).items():
            self._check(kind, op)
            self._staged[kind] = op

    def _apply_staged(self) -> None:
        """Batch boundary: apply the staged ops in ledger order."""
        for kind in self.OPS:
            if kind in self._staged:
                self._apply_op(kind, self._staged.pop(kind))

    def _apply_op(self, kind: str, op: dict | None, paused: bool = False) -> None:
        """Apply `op` of `kind` at most once: an op equal to the last
        applied one of its kind is skipped; otherwise it is checked,
        applied, and recorded beside the checkpoint, so a restart does
        not re-apply the op still sitting in control.json (a schema op
        would revert any schema evolution applied since; a stale binlog
        op would undo a later revert; a recorded config patch is
        re-applied at start instead, see `_start`). `ctl` gives each
        schema/binlog/unlock op it writes a fresh id, so two intentional
        writes of identical content stay distinct."""
        if not op or op == self._applied[kind]:
            return
        self.OPS[kind][1](self, op, self._check(kind, op, paused))
        self._applied[kind] = op
        write_json(os.path.join(self.checkpoint_dir, f"applied_{kind}.json"), op)

    def _apply_config_patch(self, patch: dict, _parsed=None) -> None:
        """dmctl update-task: swap the patched keys of the task config
        into a new pipeline, which the next micro-batch reads."""
        from dm_spark.config import (
            DdlFilterRule,
            EventFilterRule,
            ExprFilterRule,
            RouteRule,
        )

        cfg = copy.deepcopy(self.pipeline.config)
        if "routes" in patch:
            cfg.routes = [RouteRule(**r) for r in patch["routes"]]
            # a route to a target with no lake would silently DROP every
            # routed row (the merge loop only writes known targets).
            # STRICT even with a `lake_root`: runner auto-create only
            # fires on a CREATE TABLE event, which never arrives for an
            # already-existing table — so a patch re-routing live tables
            # to a lake-less target would drop their rows forever while
            # looking accepted. Routes to not-yet-created tables belong
            # in the task-start config.
            unknown = {r.target for r in cfg.routes} - set(self.runner.lakes)
            if unknown:
                raise ValueError(
                    f"route patch targets {sorted(unknown)} have no lake in "
                    "this task — pre-create the lake and register it, or "
                    "restart the task with the new route (a lake is "
                    "auto-created only when the target's CREATE TABLE "
                    "arrives in-stream)"
                )
        if "allow_tables" in patch:
            cfg.allow_tables = list(patch["allow_tables"])
        if "deny_tables" in patch:
            cfg.deny_tables = list(patch["deny_tables"])
        if "event_filters" in patch:
            cfg.event_filters = [EventFilterRule(**r) for r in patch["event_filters"]]
        if "expr_filters" in patch:
            cfg.expr_filters = [ExprFilterRule(**r) for r in patch["expr_filters"]]
        if "ddl_filters" in patch:
            cfg.ddl_filters = [DdlFilterRule(**r) for r in patch["ddl_filters"]]
        if cfg == self.pipeline.config:
            return  # already in force: keep the compiled pipeline
        # swapping the reference is atomic; the next micro-batch reads
        # the new pipeline. The location floor (snapshot-watermark gate)
        # carries over — it is task state, not filter config
        self.runner.pipeline = ApplyPipeline(cfg, location_floor=self.pipeline.location_floor)

    def _apply_schema_op(self, op: dict, ev) -> None:
        """dmctl operate-schema set/remove (dm/ctl/master/
        operate_schema.go; exercised by tests/tracker_ignored_ddl):
        overwrite or drop the schema TRACKER's view of an upstream
        table when it has diverged from reality — e.g. a DDL the task's
        filters ignored upstream but whose shape the images now carry.
        `set` takes a CREATE TABLE statement (parsed by the engine's
        own DDL grammar — declared generated columns register for
        pruning, exactly as an in-stream CREATE would); `remove` drops
        the entry so the next CREATE TABLE / image re-seeds it. `get`
        needs no driver round-trip: the runner state file next to the
        checkpoint always holds the current schemas (main.py reads it).
        Persisted immediately (the reference's --flush)."""
        table = op["table"]
        if op["op"] == "set":
            cols = [tuple(c) for c in ev.columns or []]
            # direct assignment, NOT registry.seed: seed is setdefault
            # (first-seen wins), but operate-schema set exists precisely
            # to OVERWRITE a diverged tracker view
            self.runner.registry.schemas[table] = cols
            # mirror the in-stream create_table path (plans/replay.py
            # _handle_table_ddl) exactly: columns the new CREATE declares
            # as DATA columns must stop being generated-pruned, and a
            # previously dropped table becomes live again — otherwise the
            # set reports success while merges keep pruning the column /
            # the dropped_tables gate keeps eating every DML
            target = self.runner.pipeline.config.route_of(table)
            cur = self.runner.dynamic_generated.get(target)
            if cur:
                data_cols = {c for c, _t in cols}
                cur[:] = [g for g in cur if g not in data_cols]
                if not cur:
                    self.runner.dynamic_generated.pop(target, None)
            if ev.generated:
                self.runner._register_generated(list(ev.generated), table)
            self.runner.dropped_tables.discard(table)
        else:  # remove
            self.runner.registry.schemas.pop(table, None)
        self._save_runner_state()

    def _apply_binlog_op(self, op: dict, actions) -> None:
        """dmctl `binlog skip|replace|revert` (handle-error,
        syncer/handle_error.go:32-73; match/apply
        syncer/err-operator/operator.go:60-173): register a user
        override at a binlog location on the RUNNING task, so a task
        blocked on an unsupported DDL or a poison DML is unblocked
        without a restart — the replayed micro-batch consults the
        operator at the failing location (skip drops the event, replace
        injects the supplied statements with suffix ordinals). The
        error operators persist in the runner state."""
        fs, pos = op["file_seq"], op["pos"]
        if op["op"] == "skip":
            self.runner.error_ops.set_skip(fs, pos)
        elif op["op"] == "replace":
            self.runner.error_ops.set_replace(fs, pos, actions)
        else:  # revert
            self.runner.error_ops.revert(fs, pos)
        self._save_runner_state()

    def _apply_unlock_op(self, op: dict, _parsed=None) -> None:
        """dmctl unlock-ddl-lock (dm/ctl/master/unlock_ddl_lock.go):
        force-resolve a stuck pessimistic shard-DDL lock at a batch
        boundary — exec (default) applies the DDL now and releases;
        skip releases without applying. A lock that resolved naturally
        between issue and apply is recorded in batch_stats instead of
        failing the task (the op is then spent)."""
        try:
            res = self.runner.force_unlock(
                op["target"], op["ident"], op["file_seq"], op["pos"],
                exec_ddl=op.get("exec", True),
            )
            # drain NOW: on an idle tail no micro-batch may fire for a
            # while, and the whole point of the unlock is releasing the
            # spilled DMLs the lock was holding back
            res["drained"] = self.runner.drain_pending()
            self.batch_stats.append({"unlock_op": op.get("id"), **res})
        except ValueError as e:
            # EVERY designed refusal spends the op: a lock that resolved
            # naturally, OR an apply-time refusal (key-column rename,
            # expr-filter collision). Letting the refusal escape
            # foreachBatch would kill the query with the op still in
            # control.json — every restart would re-crash until it was
            # hand-removed (review r5). Recorded loudly instead; the
            # operator re-issues a corrected op (fresh id).
            why = (
                "lock_already_resolved"
                if "no pending shard-DDL lock" in str(e)
                else f"refused: {e}"
            )
            self.batch_stats.append({"unlock_op": op.get("id"), "result": why})
        self._save_runner_state()

    # the op ledger, in apply order: kind -> (shape check, apply body)
    OPS = {
        "config_patch": (check_config_patch, _apply_config_patch),
        "schema_op": (check_schema_op, _apply_schema_op),
        "binlog_op": (check_binlog_op, _apply_binlog_op),
        "unlock_op": (check_unlock_op, _apply_unlock_op),
    }

    def _save_runner_state(self) -> None:
        """Atomic write-then-rename after each runner batch: the state
        on disk is always the state as of SOME completed batch; a crash
        mid-batch replays that batch from the stream checkpoint against
        the matching coordination state (merges are LWW-idempotent)."""
        write_json(self._runner_state_path, self.runner.state_json())

    def _fold_txn_intervals(self, batch_df: DataFrame) -> None:
        """Opt-in GTID-set analog: fold this batch's applied txn_id
        intervals into the persisted set (dm_spark/lineage.py).
        Interval union is a semilattice, so a crash anywhere between
        the lake merge, this write, and the stream-checkpoint commit
        replays the batch into an identical set — the file on disk is
        always a correct LOWER BOUND of what was applied, and gaps
        below the high water are real holes, never write-ordering
        artifacts. Query events fold too (a GTID covers DDL
        transactions)."""
        if not self.track_txn_intervals:
            return
        from dm_spark.lineage import batch_txn_intervals, merge_intervals

        self.txn_intervals = merge_intervals(
            self.txn_intervals, batch_txn_intervals(batch_df)
        )
        write_json(self._txn_intervals_path, {"intervals": self.txn_intervals})

    def _start(self) -> dict:
        """The first step of the run loop; returns the control file.
        Clears a blocked sidecar left by a killed run, and re-applies
        the recorded config patch while control.json still holds it:
        the pipeline is rebuilt from the task config on every start,
        and the patch already passed the paused check when it was first
        applied (so a paused route patch survives the restart). Any
        other op pending there is staged by the caller, so the first —
        possibly replayed — batch sees it: a task that crashed on a
        poison location, got a `ctl binlog skip`, and was relaunched
        must not crash again on the replay."""
        self._write_blocked_sidecar(None)
        ctl = self._read_control()
        patch = ctl.get("config_patch")
        if patch and patch == self._applied["config_patch"]:
            self._apply_config_patch(patch)
        return ctl

    def _start_query(self, **trigger):
        """The one streaming query every run mode starts: the relay dir
        through `_apply`, offsets in the checkpoint, under `trigger` —
        processingTime (tail), availableNow (drain) or once (settle)."""
        return (
            read_feed_stream(self.spark, self.feed_dir, self.max_files_per_trigger)
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def run_available_now(self, timeout_sec: int = 600) -> list[dict]:
        """Drain mode, the incremental catch-up: the run loop (`_run`)
        under Trigger.AvailableNow — it applies what the relay dir holds
        when its query starts, under the tail's control rules, then
        returns. Side-channel DDLs located past the feed's last event
        never come due in a batch (loc <= batch max): a full drain is
        their flush point, so they apply here. A drain cut short
        (timeout, stop) keeps them queued — applying them ahead of the
        DMLs still unapplied before their location would break
        flush-before-DDL. `self.drained` tells the two apart: True only
        when the drain ran to the end of what it found."""
        self.drained = self._run({"availableNow": True}, timeout_sec)
        if self.drained and self.ddl_events:
            trailing, self.ddl_events = self.ddl_events, []
            self.runner.handle_ddl(*trailing)
            self.runner.drain_pending()
            self._save_runner_state()
            self.batch_stats.append({"batch_id": None, "ddls": len(trailing), "trailing": True})
        return self.batch_stats

    def _checkpoint_settled(self) -> bool:
        """True iff Spark's commit log has caught up with its offset
        log — no planned-but-uncommitted micro-batch will replay on the
        next start."""
        planned, committed = stream_batches(self.checkpoint_dir)
        return planned == committed

    def _settle_inflight(self) -> None:
        """Replay the interrupted (planned-but-uncommitted) micro-batch
        under the CURRENT pipeline config and stop — a single
        trigger-once run re-executes exactly the batch in the offset
        log (the lake batch-id gates make the re-merge idempotent),
        leaving offsets == commits so a route patch cannot re-route an
        in-flight batch mid-replay.

        Ops STAGED by the poll loop before the pause are suspended for
        the duration: the settle batch's own `_apply_staged`
        would otherwise consume them FIRST, replaying the batch under
        the new schema/filters/operators — the exact hazard settling
        exists to prevent (review r5; an op genuinely needed to get the
        settle batch through — a binlog skip on a poison event — was
        already applied directly from control.json by the paused
        branch)."""
        staged, self._staged = self._staged, {}
        try:
            self._start_query(once=True).awaitTermination(120)
        finally:
            self._staged = staged

    def run_continuous(
        self,
        trigger_sec: float = 1.0,
        timeout_sec: int = 600,
        stop_when=None,
        poll_sec: float = 0.25,
        block_on_error: bool = False,
    ) -> list[dict]:
        """Live-tail mode: the run loop (`_run`) under a processing-time
        trigger, picking up relay files as they appear. Idle periods
        need no extra flush: the checkpoint is bound to data batches
        (the reference needs a heartbeat flush, syncer/syncer.go:
        1849-1857, only because its checkpoint lags its appliers).
        `stop_when(driver) -> bool` is polled driver-side for tests/ops;
        production omits it and tails until killed, resuming from
        checkpoint.

        `block_on_error=True` is the reference's paused-on-error task
        state (dm/worker/subtask.go): a failed micro-batch (unsupported
        DDL, poison DML) sets `self.blocked` and `self.last_error`, and
        the driver idles polling control.json instead of raising; an
        operator's control change (`main.py ctl <cp> binlog
        skip|replace <loc>`, the handle-error flow) wakes it and the
        batch replays from checkpoint under the new operators. Default
        False keeps failures loud."""
        self._run({"processingTime": f"{max(trigger_sec, 0.1)} seconds"},
                  timeout_sec, stop_when, poll_sec, block_on_error)
        return self.batch_stats

    def _run(self, trigger: dict, timeout_sec: float, stop_when=None,
             poll_sec: float = 0.25, block_on_error: bool = False) -> bool:
        """The one run loop of both modes, as the syncer's `Run`
        (syncer/syncer.go:1280) serves catch-up and live tail alike:
        start the query under `trigger`, then every `poll_sec` check
        `stop_when` and the control file (see :meth:`control_path`),
        waiting on the query in between so a finished drain returns at
        once. `pause` stops the query (checkpoint intact) and idles
        until cleared, then restarts it from the checkpoint; `stop`
        exits gracefully; ops stage and apply at a batch boundary.
        Returns True iff the last query ended on its own (a finished
        drain), not by timeout, stop, pause or error."""
        t0 = time.time()
        self.paused = False
        self.blocked = False
        self.last_error = None
        # paused-branch settle state: the control state a settle last
        # failed under, and whether a failed settle owns the sidecar
        self._settle_failed_ctl = None
        self._settle_blocked = False
        # a SIGKILL while blocked skips the finally that clears the
        # sidecar — a restarted task must not report blocked-on-error
        # from a previous life (_start clears it)
        self._start()
        done = drained = False
        while not done and time.time() - t0 < timeout_sec:
            ctl = self._read_control()
            if ctl.get("stop"):
                break
            if ctl.get("pause"):
                self.paused = True
                # paused = the update-task window: the full patch
                # surface (filters + routes) applies here, before any
                # batch can run under the new rules — the reference's
                # pause-task -> update-task -> resume-task flow.
                # A pause can interrupt a micro-batch AFTER its lake
                # commit but BEFORE Spark's commit log — that batch
                # replays on resume, and under NEW routes the redirected
                # rows would land in a second lake whose batch-id gate
                # has never seen them (double-apply). Settle the
                # interrupted batch under the OLD routes first
                # (review r5).
                # binlog ops apply BEFORE any settle: the in-flight
                # batch may be the poison one the op exists to fix —
                # settling it first would just crash again (error ops
                # are location-surgical; applying early never harms)
                self._apply_op("binlog_op", ctl.get("binlog_op"))
                pending = self._pending(ctl)
                needs_settle = (
                    "routes" in pending.get("config_patch", {})
                    # schema ops mutate the registry the replayed batch
                    # reads — same hazard as a route change (review r5)
                    or "schema_op" in pending
                    # unlock ops must run AFTER the interrupted batch
                    # settles: replaying it afterwards would re-announce
                    # the just-unlocked DDL and resurrect the lock, with
                    # the spent at-most-once op unable to re-fire
                    # (review r5)
                    or "unlock_op" in pending
                )
                ctl_key = json.dumps(ctl, sort_keys=True)
                if needs_settle and ctl_key == self._settle_failed_ctl:
                    # the settle already failed under THIS exact control
                    # state: idle until the operator changes something
                    # instead of replaying the poison batch every poll
                    # tick (~4 Hz of full query startups; review r5)
                    time.sleep(poll_sec)
                    continue
                if needs_settle and not self._checkpoint_settled():
                    try:
                        self._settle_inflight()
                        self._settle_failed_ctl = None
                        if self._settle_blocked:
                            self._settle_blocked = False
                            self._write_blocked_sidecar(None)
                    except Exception as err:  # noqa: BLE001
                        # the in-flight batch itself is the failing one.
                        # A pending SCHEMA op is the designed remedy for
                        # exactly this (operate-schema on a blocked task:
                        # the batch is SUPPOSED to replay under the fixed
                        # registry) — apply it and let resume retry. A
                        # route/unlock change on an unsettleable batch
                        # stays REFUSED: applying it would re-route /
                        # re-announce the uncommitted batch — so stay
                        # paused with the error surfaced instead of
                        # crashing the whole tail (review r5-2).
                        self._settle_blocked = True
                        if "schema_op" in pending:
                            self._write_blocked_sidecar(
                                f"settle failed ({err}); applying pending "
                                "schema op — batch replays under the fixed "
                                "registry on resume"
                            )
                            self._apply_op("schema_op", pending["schema_op"])
                            # the op changed the registry: the retry on
                            # the next tick is the designed replay-under-
                            # fixed-registry, so no idle gate here
                        else:
                            self._write_blocked_sidecar(
                                f"in-flight batch cannot settle: {err} — "
                                "route patch / unlock refused; fix the "
                                "failing batch first (ctl binlog "
                                "skip/replace or ctl schema set), or stop"
                            )
                            self._settle_failed_ctl = ctl_key
                        time.sleep(poll_sec)
                        continue
                for kind in self.OPS:
                    self._apply_op(kind, ctl.get(kind), paused=True)
                time.sleep(poll_sec)
                continue
            self.paused = False
            self._settle_failed_ctl = None
            if self._settle_blocked:
                # operator resumed past a failed settle: the stale
                # cannot-settle sidecar must not outlive the pause
                self._settle_blocked = False
                self._write_blocked_sidecar(None)
            # ops already sitting in control.json are staged BEFORE the
            # stream starts, so the FIRST (possibly replayed) micro-batch
            # sees them (see _start)
            self._stage(ctl)
            q = self._start_query(**trigger)
            err = None
            stop_req = False
            try:
                while q.isActive and time.time() - t0 < timeout_sec:
                    if stop_when is not None and stop_when(self):
                        stop_req = True
                        break
                    ctl = self._read_control()
                    if ctl.get("stop"):
                        stop_req = True
                        break
                    if ctl.get("pause"):
                        break  # stop the query; outer loop idles until cleared
                    self._stage(ctl)
                    try:
                        q.awaitTermination(poll_sec)
                    except StreamingQueryException:
                        pass  # a failed query raises once, below
                else:
                    done = True  # query ended or overall timeout
                    drained = not q.isActive
            finally:
                q.stop()
                try:
                    q.awaitTermination(60)
                except Exception as e:  # StreamingQueryException
                    if not block_on_error or stop_req:
                        raise
                    err = e
            if stop_req:
                done = True
            elif err is not None:
                # paused-on-error: idle until the operator intervenes,
                # then retry the batch from checkpoint. Wakes on any
                # control.json CHANGE, and also on an op already sitting
                # there unapplied — one issued while the batch was
                # failing (before the snapshot below) must not be missed
                # until timeout (review r5)
                done = drained = False
                self.last_error = str(err)
                self.blocked = True
                self._write_blocked_sidecar(str(err))
                try:
                    snap = self._read_control()
                    while True:
                        if time.time() - t0 >= timeout_sec:
                            raise err  # nobody intervened — stay loud
                        ctl = self._read_control()
                        if (
                            ctl.get("stop")
                            or ctl != snap
                            or self._pending(ctl)
                        ):
                            break
                        time.sleep(poll_sec)
                finally:
                    self.blocked = False
                    self._write_blocked_sidecar(None)
        return drained

    def _write_blocked_sidecar(self, error: str | None) -> None:
        """Persist the blocked-on-error state beside the checkpoint so
        `main.py ctl status` can tell a blocked task (and the failing
        error) apart from a slow or dead one — the state the whole
        handle-error flow pivots on (review r5). None clears it."""
        path = os.path.join(self.checkpoint_dir, "blocked.json")
        if error is None:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            return
        write_json(path, {"blocked": True, "error": error, "at": time.time()})
