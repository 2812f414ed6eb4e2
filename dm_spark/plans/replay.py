"""ReplayRunner — the task runner: interleaved DML/DDL replay.

Implements the reference's query-event lifecycle (SURVEY §3.3) over
micro-batches:

1. DDL actions are totally ordered by location (file_seq, pos) like
   every other event.
2. **Flush-before-DDL**: all DMLs at locations before a DDL are merged
   (and the lake snapshot committed) before the DDL applies
   (syncer/syncer.go:2362-2366).
3. Each DDL runs through the operator chain:
   error-operator overrides (skip/replace, syncer/err-operator) →
   online-DDL classification (ghost buffer / trash drop / rename swap,
   syncer/online-ddl-tools) → shard barrier announce (pessimistic
   sharding_group.go) → obsolete gating + apply to the lake catalog +
   schema registry (optimistic join semantics live in the registry).
4. DMLs of tables held by an unsatisfied barrier are spilled and
   re-merged when the barrier releases (re-sync streamer analog).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field
from itertools import groupby

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import re

from dm_spark.config import pattern_to_regex
from dm_spark.lake import LakeTable, MergeStats
from dm_spark.operators import ApplyPipeline
from dm_spark.operators.errors import ErrorOperators
from dm_spark.schema.online_ddl import OnlineDdlBuffer, classify
from dm_spark.schema.registry import SchemaRegistry, reconcile_actions
from dm_spark.streaming.ddl_coordinator import (
    PendingSpill,
    ShardDdlBarrier,
    pending_locks,
    split_blocked,
)


@dataclass
class DdlEvent:
    """One schema action at a binlog location (FIXTURES.md §4 shape).
    action: add_column | add_generated_column | rename_column |
    widen_type | drop_column | add_unique_key | create_table |
    drop_table | truncate_table | drop_database | rename_table
    (online-DDL swap) | unsupported (a statement the DDL grammar
    refused: it stands at its location only so the error operator set
    there resolves, and applies only through that operator).

    `suffix` is the third location component, used for user-injected
    replacement events sharing a position (error-operator replace,
    online-DDL swap replay) — the reference's `Location.Suffix`
    (pkg/binlog/position.go:229-235, compared lexicographically AFTER
    pos, :298-317). Keeping it a separate ordinal (instead of inflating
    pos) preserves the total order for later genuine events."""

    action: str
    source_table: str
    file_seq: int
    pos: int
    column: str | None = None
    new_name: str | None = None
    new_type: str | None = None
    # add_column: literal DEFAULT value — MySQL/TiDB backfill existing
    # rows with it, so the lake must too (ddl_parser._default_literal)
    default: object = None
    target_table: str | None = None  # for rename_table
    suffix: int = 0
    # create_table payload: declared columns / primary key / unique keys
    columns: list | None = None  # [(name, spark type), ...]
    key: list | None = None
    unique_keys: list | None = None
    # create_table: declared generated columns (by name) — registered
    # for image pruning, never part of the data schema (dml.go:358-395)
    generated: list | None = None

    def loc(self) -> tuple[int, int, int]:
        return (self.file_seq, self.pos, self.suffix)

    def to_dict(self) -> dict:
        """The event's set fields — its one serialized form (stored
        error-operator replacements, buffered ghost DDLs);
        :meth:`from_dict` reads it back."""
        return {k: v for k, v in vars(self).items() if v is not None}

    @classmethod
    def from_dict(cls, d: dict, **override) -> "DdlEvent":
        return cls(**{**d, **override})

    def to_action(self) -> dict:
        return {
            "action": self.action,
            "column": self.column,
            "new_name": self.new_name,
            "new_type": self.new_type,
            "default": self.default,
            "file_seq": self.file_seq,
            "pos": self.pos,
            "suffix": self.suffix,
        }


@dataclass
class ReplayRunner:
    pipeline: ApplyPipeline
    lake: LakeTable | None = None
    # target_table -> LakeTable for multi-target routing (the quarantine
    # route etc.); single-lake construction keeps working
    lakes: dict[str, LakeTable] | None = None
    registry: SchemaRegistry = field(default_factory=SchemaRegistry)
    error_ops: ErrorOperators = field(default_factory=ErrorOperators)
    online_ddl: OnlineDdlBuffer = field(default_factory=OnlineDdlBuffer)
    barrier: ShardDdlBarrier | None = None
    spill: PendingSpill | None = None
    # optimistic shard-DDL mode (pkg/shardddl/optimism/lock.go:43-380,
    # syncer/optimist.go:31-160): source tables forming the shard group.
    # A member's DDL updates its registry schema; the runner JOINS all
    # members' schemas and applies the DERIVED diff to the lake, while
    # lagging shards keep writing the old shape (merge null-fills).
    optimistic_group: list[str] | None = None
    # root dir for lakes auto-created by CREATE TABLE events (optional;
    # without it CREATE only seeds the schema tracker)
    lake_root: str | None = None
    # per-source-table checkpoint tracking (TablePoint analog,
    # syncer/checkpoint.go; gate at syncer/syncer.go:1983-1989
    # IsOlderThanTablePoint): when True, each batch records every
    # source's max applied (file_seq, pos) into the lake commit, and
    # incoming DMLs at-or-before their table's stored point are
    # filtered — a resync over an already-applied range skips the merge
    # work per table instead of re-upserting (LWW keeps either path
    # correct; this is the cheap path). Costs one small agg per batch.
    track_table_points: bool = False
    _points_cache: dict | None = None
    # route predicate per target, built once (every Column costs py4j
    # round trips, paid per micro-batch otherwise)
    _route_preds: dict = field(default_factory=dict, repr=False, compare=False)
    # sources dropped mid-stream (DROP TABLE): their later DMLs are
    # filtered — the reference deletes the table's checkpoint and the
    # shard member leaves its group (syncer/syncer.go:2306-2317)
    dropped_tables: set = field(default_factory=set)
    # schemas dropped whole (DROP DATABASE): gates tables of the schema
    # the runner never tracked (known only through a route pattern)
    dropped_schemas: set = field(default_factory=set)
    applied_ddl: list[dict] = field(default_factory=list)
    # upstream column name -> current downstream name, built from applied
    # renames (the schema-tracker name mapping: upstream images keep the
    # old field name until the source itself evolves)
    rename_map: dict = field(default_factory=dict)
    # generated columns registered by DDL mid-stream (ADD ... AS (...)
    # or CREATE TABLE declarations), scoped PER TARGET LAKE: a
    # generated-column DDL on one table must never prune a same-named
    # DATA column from other tables in the task (the static
    # config.generated_columns stays name-global — that is an explicit
    # operator choice, this is automatic). {target: [col, ...]};
    # persisted in state_json so pruning survives a driver restart
    dynamic_generated: dict = field(default_factory=dict)
    # upstream binlog epoch (source re-master ordinal) — threaded into
    # every merge so the reported global checkpoint advances as
    # (epoch, file_seq, pos); set by CdcStreamDriver(epoch=N)
    epoch: int = 0

    def __post_init__(self):
        if self.lakes is None:
            if self.lake is None:
                raise ValueError("ReplayRunner needs lake or lakes")
            self.lakes = {self.pipeline.config.target_table: self.lake}
        if self.barrier is not None and self.spill is None:
            # a barrier with nowhere to defer would silently MERGE the
            # blocked tables' rows (apply_dml_batch only splits when
            # both exist) — pre-DDL rows carrying post-DDL values would
            # lose those values irrecoverably
            raise ValueError("a ShardDdlBarrier needs a PendingSpill to defer blocked DMLs")

    def _lake_for(self, source_table: str) -> LakeTable | None:
        # None: the routed target has no lake here (its DMLs drop too)
        return self.lakes.get(self.pipeline.config.route_of(source_table))

    def _register_generated(self, cols: list, source_table: str) -> None:
        """Register columns as generated-and-pruned for the TARGET the
        declaring table routes to: `_to_target_shape` drops them from
        that target's frame before every merge, so the value never
        lands downstream (syncer/dml.go:358-395) — while a same-named
        DATA column on a table routed to a DIFFERENT target keeps
        replicating untouched (a name-global registration would
        null-fill it silently on every upsert). Within one shard-merge
        target all shards share a schema by construction, so
        target-scope == table-scope there. Remembered in
        `dynamic_generated` for crash-durable state."""
        target = self.pipeline.config.route_of(source_table)
        cur = self.dynamic_generated.setdefault(target, [])
        for c in cols:
            if c not in cur:
                cur.append(c)

    # -------------------------------------------------------------- DDL
    def _ddl_filtered(self, ev: DdlEvent) -> bool:
        """The admission rules of a schema event (syncer/filter.go:30-128
        skipQueryEvent/skipByTable/skipSQLByPattern): the block/allow
        lists its table's DMLs pass (a ghost or trash table answers for
        its real table; a DROP DATABASE for the tables it expands to),
        then the binlog DDL-filter rules, which drop actions by kind or
        by regex over the rendered action text, per table pattern."""
        if ev.action != "drop_database" and not self.pipeline.config.admits(
            classify(ev.source_table)[1] or ev.source_table
        ):
            return True
        action = ev.to_action()
        rendered = " ".join(
            str(action.get(k)) for k in ("action", "column", "new_name", "new_type")
            if action.get(k)
        )
        for r in self.pipeline.config.ddl_filters:
            if not re.match(
                pattern_to_regex(r.pattern, self.pipeline.config.case_sensitive),
                ev.source_table,
            ):
                continue
            if ev.action in r.ignore_kinds:
                return True
            if r.action_regex and re.search(r.action_regex, rendered):
                return True
        return False

    def handle_ddl(self, *events: DdlEvent) -> list[dict]:
        """The one place a schema event meets its error operator.
        Events are taken one statement location (file_seq, pos) at a
        time: the DDL filter rules drop events by kind or text, then the
        operator at the location resolves ONCE (the syncer checks its
        handle-error operators once per binlog event,
        syncer/syncer.go:1730-1759) — a skip drops the statement, a
        replace stands its replacement events in for it — and each event
        left, original or injected, goes through `_dispatch`, which
        never resolves again. Returns the actions actually applied to
        the lake (possibly empty)."""
        applied = []
        for stmt in _statements(events):
            evs = [e for e in stmt if not self._ddl_filtered(e)]
            reps = self.error_ops.resolve(*stmt[0].loc()[:2]) if evs else None
            if reps is not None:
                # a replacement composed from SQL names its own table; a
                # hand-written one applies to the statement's table
                evs = [DdlEvent.from_dict({"source_table": evs[0].source_table, **r}) for r in reps]
            for ev in evs:
                applied += self._dispatch(ev)
        return applied

    def _dispatch(self, ev: DdlEvent) -> list[dict]:
        """Apply one resolved event by its kind: table lifecycle, DROP
        DATABASE expansion, RENAME (online-DDL swap), ghost/trash
        buffer, generated column, ADD UNIQUE, optimistic sync, plain
        column DDL. Events it derives (expanded drops, swap-replayed
        ghost DDLs) pass the filter rules but never the operators —
        `handle_ddl` resolved their statement's location already."""
        if ev.action == "drop_database":
            # expand to drop_table over every known table of that schema
            # (dropSchemaInSharding, syncer/syncer.go:2301-2306): group
            # members, tracked schemas, and routed lakes are the three
            # places a table can be known to this runner
            prefix = f"{ev.source_table}."
            known = set(self.registry.schemas) | set(self.optimistic_group or [])
            if self.barrier is not None:
                for members in self.barrier.groups.values():
                    known |= set(members)
            applied = []
            for t in sorted(t for t in known if t.startswith(prefix)):
                drop = DdlEvent("drop_table", t, ev.file_seq, ev.pos, suffix=ev.suffix)
                if not self._ddl_filtered(drop):
                    applied += self._handle_table_ddl(drop)
            # tables of the schema known ONLY through a route pattern
            # (never tracked/grouped) still need gating: a redelivered
            # pre-drop DML for them must not resurrect rows, same as an
            # explicit DROP TABLE would guarantee. A filtered or skipped
            # DROP DATABASE never gets here, so it gates nothing
            # (ADVICE r03 #4)
            self.dropped_schemas.add(ev.source_table)
            return applied
        if ev.action in ("create_table", "drop_table", "truncate_table"):
            return self._handle_table_ddl(ev)
        if ev.action == "rename_table":
            applied = []
            for i, act in enumerate(self.online_ddl.on_rename(ev.source_table, ev.target_table)):
                # buffered ghost DDLs replay AT the swap location with a
                # suffix ordinal (Location.Suffix analog) — never by
                # inflating pos, which would obsolete later genuine DDLs
                # offset by the rename event's own suffix: a multi-pair
                # RENAME statement yields pair events at suffix 0..k and
                # their replayed actions must order after their pair
                swap = DdlEvent.from_dict(
                    act, source_table=ev.target_table, file_seq=ev.file_seq,
                    pos=ev.pos, suffix=ev.suffix + i + 1,
                )
                # DDL filter rules apply to swap-replayed actions too: a
                # rule ignoring e.g. drop_column on the real table must
                # also suppress it arriving via gh-ost/pt-osc (ADVICE r02)
                if not self._ddl_filtered(swap):
                    applied += self._dispatch(swap)
            return applied
        if ev.action == "add_generated_column":
            # generated columns are tracked upstream but their values
            # are never replicated (syncer/dml.go:358-395): the ADD
            # registers the column as generated-and-pruned for the
            # declaring table's TARGET (dropped at _to_target_shape)
            # so later DMLs keep applying end-to-end (VERDICT r04 #3).
            # No lake schema change — no value ever lands downstream.
            self._register_generated([ev.column], ev.source_table)
            act = ev.to_action()
            self.applied_ddl.append(act)
            return [act]
        if ev.action == "add_unique_key":
            # advisory on plain-PK tables (no physical index on a lake
            # table); REFUSED on declared-ladder tables — identity
            # strings are hashed into bucket ids at write time, so
            # extending the ladder mid-stream would re-identify (and
            # re-bucket) existing rows and split their update chains
            lake = self._lake_for(ev.source_table)
            if lake is not None and lake.exists and lake._load_meta().unique_keys:  # noqa: SLF001
                raise ValueError(
                    f"ADD UNIQUE on {ev.source_table}: the declared identity "
                    "ladder (unique_keys) is immutable after create — "
                    "recreate the table with the new ladder, or skip this "
                    "DDL with an error operator if the index is advisory"
                )
            return []
        kind, _real = classify(ev.source_table)
        if kind in ("ghost", "trash"):
            self.online_ddl.on_ddl(ev.source_table, ev.to_dict())
            return []
        if (
            self.optimistic_group
            and ev.source_table in self.optimistic_group
            and ev.action in ("add_column", "widen_type", "drop_column")
        ):
            return self._optimistic_sync(ev.source_table, ev.to_action())
        return self._apply_one(ev.source_table, ev.to_action())

    def _handle_table_ddl(self, ev: DdlEvent) -> list[dict]:
        """CREATE / DROP / TRUNCATE TABLE with the reference's
        shard-mode pre-filter semantics (syncer/syncer.go:2299-2337):

        - CREATE seeds the schema tracker for the source; if the routed
          target has no lake yet and `lake_root` is set, the lake is
          created from the declared columns/key/unique_keys.
        - DROP makes the source LEAVE its shard group (pessimistic
          `sgk.LeaveGroup`) / the optimistic group, drops its tracked
          schema, and filters its later DMLs (`DeleteTablePoint`
          analog). The merged target's data is never destroyed — the
          lake model keeps committed snapshots; a non-shard task that
          truly wants the target gone removes the lake itself.
        - TRUNCATE of a shard-group member is filtered (the reference
          logs and skips it in both shard modes); un-grouped sources
          truncate the routed target lake in one snapshot commit.
        """
        target = self.pipeline.config.route_of(ev.source_table)
        rec = {
            "action": ev.action, "table": ev.source_table,
            "file_seq": ev.file_seq, "pos": ev.pos, "suffix": ev.suffix,
        }
        if ev.action == "create_table":
            self.registry.seed(ev.source_table, [tuple(c) for c in ev.columns or []])
            if ev.generated:
                # declared generated columns: prune their images, never
                # store values (the parser already excluded them from
                # the data columns)
                self._register_generated(list(ev.generated), ev.source_table)
            self.dropped_tables.discard(ev.source_table)
            if target not in self.lakes and self.lake_root is not None and ev.columns:
                import os

                self.lakes[target] = LakeTable.create(
                    next(iter(self.lakes.values())).spark,
                    os.path.join(self.lake_root, target),
                    [tuple(c) for c in ev.columns],
                    list(ev.key or []),
                    unique_keys=[list(u) for u in ev.unique_keys or []] or None,
                )
            self.applied_ddl.append(rec)
            return [rec]
        grouped = False
        released: list[dict] = []
        if self.barrier is not None:
            tgt = self.barrier.group_of(ev.source_table)
            if tgt is not None:
                grouped = True
                if ev.action == "drop_table":
                    # LeaveGroup + re-evaluation: a pending shard DDL
                    # waiting only on the departing member applies now
                    tgt, done = self.barrier.shrink(ev.source_table)
                    lake = self.lakes.get(tgt)
                    for i, act in enumerate(done if lake is not None else ()):
                        act = {
                            **act,
                            "file_seq": ev.file_seq,
                            "pos": ev.pos,
                            "suffix": ev.suffix + i + 1,
                        }
                        if lake.apply_ddl(act):
                            released.append(act)
                            self.applied_ddl.append(act)
        if self.optimistic_group and ev.source_table in self.optimistic_group:
            grouped = True
            if ev.action == "drop_table":
                self.optimistic_group.remove(ev.source_table)
        if ev.action == "drop_table":
            self.registry.schemas.pop(ev.source_table, None)
            self.dropped_tables.add(ev.source_table)
            self.applied_ddl.append(rec)
            return [rec, *released]
        # truncate_table
        if grouped:
            return []  # filtered in shard groups (syncer.go:2318-2321, :2330-2333)
        lake = self.lakes.get(target)
        if lake is not None:
            lake.truncate()
            self.applied_ddl.append(rec)
            return [rec]
        return []

    def _optimistic_sync(self, source_table: str, act: dict) -> list[dict]:
        """Optimistic TrySync: update this shard's tracked schema, join
        the group's schemas (maximal compatible superset,
        pkg/shardddl/optimism/lock.go:115), diff against the lake
        catalog, and apply only the DERIVED actions. A straggler shard
        announcing the same DDL later joins to the same schema and
        derives nothing — lock-free convergence; its old-shape DMLs
        null-fill through the merge's schema tolerance."""
        lake = self._lake_for(source_table)
        if lake is None:
            return []
        cur = [(f["name"], f["type"]) for f in lake.schema_fields()]
        for t in self.optimistic_group:
            self.registry.seed(t, cur)
        self.registry.apply(source_table, act)
        joined = self.registry.joined(self.optimistic_group)
        applied = []
        for i, d in enumerate(reconcile_actions(cur, joined)):
            d = {
                **d,
                "file_seq": act.get("file_seq", 0),
                "pos": act.get("pos", 0),
                "suffix": act.get("suffix", 0) + i,
            }
            if (
                d["action"] == "add_column"
                and d.get("column") == act.get("column")
                and act.get("default") is not None
            ):
                # the registry join tracks (name, type) only; re-attach
                # the announcing shard's literal default so the derived
                # global ADD backfills like the direct path
                d["default"] = act["default"]
            if lake.apply_ddl(d):
                applied.append(d)
                self.applied_ddl.append(d)
        return applied

    def _check_expr_filters_after_rename(self, source_table: str, old: str) -> None:
        """Expression-filter × DDL parity (VERDICT r03 #3): the
        reference REBUILDS expr filters against the tracked schema after
        each DDL and a filter naming a now-missing column fails the
        rebuild (syncer/syncer.go:2758, syncer/expr_filter_group.go).
        Here a renamed column would be null-filled by the wire decode,
        the expression would evaluate NULL, and the filter would
        silently stop matching (NULL != TRUE keeps every row) — so a
        rename that any matching expr-filter rule still references by
        its OLD name refuses loudly instead. The operator updates the
        rule (or error-op-skips the rename) and resumes; the applied-DDL
        gate makes the redelivered rename obsolete."""
        pat = re.compile(rf"\b{re.escape(old)}\b")
        for r in self.pipeline.config.expr_filters:
            if not re.match(
                pattern_to_regex(r.pattern, self.pipeline.config.case_sensitive),
                source_table,
            ):
                continue
            exprs = [r.insert_expr, r.update_old_expr, r.update_new_expr, r.delete_expr]
            # match against column REFERENCES only: a data value inside
            # a quoted literal coinciding with the column name must not
            # halt replication
            hit = [e for e in exprs if e and pat.search(re.sub(r"'[^']*'", "''", e))]
            if hit:
                raise ValueError(
                    f"expression filter rule (pattern={r.pattern!r}) references "
                    f"column {old!r} renamed by this DDL — the filter would "
                    "silently stop matching (renamed fields decode as NULL and "
                    "NULL is not TRUE). Update the rule to the new name, or "
                    "skip the rename with an error operator. Offending "
                    f"expression(s): {hit}"
                )

    def _apply_one(self, source_table: str, act: dict, force: bool = False) -> list[dict]:
        """Apply ONE already-resolved column-level action (barrier
        announce -> lake catalog -> rename map -> registry). `force`
        bypasses the barrier entirely (the unlock-ddl-lock path: the
        operator has decided the group will never sync)."""
        applied = []
        lake = self._lake_for(source_table)
        if lake is None:
            return applied  # an unreplicated table: no lake to change
        if act["action"] in ("rename_column", "drop_column"):
            # BEFORE any state mutates: a refused rename/drop must leave
            # the lake catalog, registry and rename_map all untouched so
            # the fixed-config resume applies it cleanly (drop has the
            # same silent-NULL failure mode as rename)
            self._check_expr_filters_after_rename(source_table, act["column"])
        ready = True
        if self.barrier is not None and not force:
            ready = self.barrier.announce(source_table, act)
        if not ready:
            return applied  # group not in sync yet; DMLs of announced tables spill
        if lake.apply_ddl(act):
            applied.append(act)
            self.applied_ddl.append(act)
            if act["action"] == "rename_column":
                # chain: if a->b existed and b->c arrives, a->c
                old, new = act["column"], act["new_name"]
                for k, v in list(self.rename_map.items()):
                    if v == old:
                        self.rename_map[k] = new
                self.rename_map[old] = new
            if source_table in self.registry.schemas:
                self.registry.apply(source_table, act)
        if self.barrier is not None:
            # release on OBSOLETE too (apply_ddl gated a duplicate
            # delivery): a fully-announced entry left behind would
            # later be re-reported "done" by shrink() and re-applied
            # — crashing on e.g. an already-renamed column
            tgt = self.barrier.group_of(source_table)
            if tgt:
                self.barrier.release(tgt, act)
        return applied

    def _gate_env(self, env: DataFrame) -> DataFrame:
        """The per-event admission gates, shared by the live path and
        the spill drain (a rule arriving WHILE rows sit spilled must
        still apply when they drain):

        - dropped tables (DROP TABLE mid-stream: DeleteTablePoint
          analog — later DMLs of that source never apply);
        - DML-position error operators (syncer/handle_error.go:32-73):
          a user skip at (file_seq, pos) surgically drops the poison
          row event(s) at that exact location;
        - per-table checkpoint gate (IsOlderThanTablePoint,
          syncer/syncer.go:1983-1989) when track_table_points is on.

        All three are bounded Catalyst predicate chains pushed into the
        scan."""
        if self.dropped_tables:
            env = env.where(
                ~F.col("source_table").isin(sorted(self.dropped_tables))
            )
        for schema in sorted(self.dropped_schemas):
            env = env.where(~F.col("source_table").startswith(f"{schema}."))
        skips = sorted(
            loc for loc, ov in self.error_ops.ops.items() if ov["kind"] == "skip"
        )
        if skips:
            poison = F.lit(False)
            for fs, pos in skips:
                poison = poison | (
                    (F.col("file_seq") == F.lit(fs)) & (F.col("pos") == F.lit(pos))
                )
            env = env.where(~poison)
        if self.track_table_points:
            pts = self._table_points()
            if pts:
                loc = F.struct(F.col("file_seq"), F.col("pos"))
                obsolete = F.lit(False)
                for t, pt in sorted(pts.items()):
                    obsolete = obsolete | (
                        (F.col("source_table") == t) & (loc <= _loc_lit(pt))
                    )
                env = env.where(~obsolete)
        return env

    # -------------------------------------------------------------- DML
    def apply_dml_batch(
        self, envelope: DataFrame, batch_id: int | None = None, stream_id: str | None = None
    ) -> dict[str, MergeStats]:
        """Transform + merge one envelope batch, honoring the barrier:
        blocked tables' rows spill; spilled rows re-merge once no
        barrier blocks them. Rows route to every configured target lake;
        rows routed elsewhere are dropped. Returns each target's merge
        stats."""
        blocked = self.barrier.blocked_sources() if self.barrier else set()
        env = self._gate_env(envelope)
        if blocked and self.spill is not None:
            # spill the *envelope* rows (pre-flatten keeps full fidelity)
            env, defer_env = split_blocked(env, blocked)
            self.spill.spill(defer_env)
        # points advance only for rows actually merged (spilled tables'
        # points hold until their rows drain)
        new_pts, pts_by_target = self._candidate_points(env)
        stats = self._merge_targets(
            self.pipeline.transform(env), pts_by_target, batch_id=batch_id, stream_id=stream_id
        )
        self._record_points(new_pts)
        return stats

    def _candidate_points(self, env: DataFrame) -> tuple[dict | None, dict | None]:
        """The batch's per-source max applied locations (one bounded
        agg) — PURE: the shared in-memory point map is only updated by
        :meth:`_record_points` AFTER the merges commit. Mutating it
        first would make a failed-then-retried merge filter its own
        rows as already-applied (the gate would claim locations no lake
        ever recorded) — fatal on the drain path, where the retry is
        the only copy of the spilled rows."""
        if not self.track_table_points:
            return None, None
        new_pts = {
            r["source_table"]: (int(r["loc"]["file_seq"]), int(r["loc"]["pos"]))
            for r in env.groupBy("source_table")
            .agg(F.max(F.struct(F.col("file_seq"), F.col("pos"))).alias("loc"))
            .collect()
        }
        pts_by_target: dict[str, dict] = {}
        for t, cand in new_pts.items():
            pts_by_target.setdefault(self.pipeline.config.route_of(t), {})[t] = cand
        return new_pts, pts_by_target

    def _record_points(self, new_pts: dict | None) -> None:
        if not new_pts:
            return
        pts = self._table_points()
        for t, cand in new_pts.items():
            if pts.get(t) is None or pts[t] < cand:
                pts[t] = cand

    def _table_points(self) -> dict:
        """Union of every target lake's stored per-table checkpoints
        (loaded once, then maintained in-memory per batch)."""
        if self._points_cache is None:
            pts: dict = {}
            for lake in self.lakes.values():
                for t, loc in lake.table_checkpoints().items():
                    cand = (int(loc[0]), int(loc[1]))
                    if pts.get(t) is None or pts[t] < cand:
                        pts[t] = cand
            self._points_cache = pts
        return self._points_cache

    def _merge_targets(self, flat: DataFrame, pts_by_target: dict | None, **gate) -> dict[str, MergeStats]:
        """One LWW merge per routed target lake, each over its rows in
        the target's current shape; `gate` (batch_id, stream_id) arms
        each lake's exactly-once gate."""
        return self.pipeline.merge(
            flat, self.lakes, part=self._to_target_shape, points=pts_by_target,
            epoch=self.epoch, **gate,
        )

    def _to_target_shape(self, flat: DataFrame, target: str) -> DataFrame:
        """`flat`'s rows routed to `target`, in the target's current
        shape."""
        pred = self._route_preds.get(target)
        if pred is None:
            pred = self._route_preds[target] = F.col("target_table") == target
        flat = flat.where(pred).drop("target_table")
        # DDL-registered generated columns prune HERE, per target (by
        # upstream name, so before renames): the value never lands in
        # this lake, while a same-named data column on another target
        # replicates untouched
        drop = [g for g in self.dynamic_generated.get(target, []) if g in flat.columns]
        if drop:
            flat = flat.drop(*drop)
        for old, new in self.rename_map.items():
            if old in flat.columns and new not in flat.columns:
                flat = flat.withColumnRenamed(old, new)
        return flat

    def drain_pending(self) -> int:
        """Re-merge spilled DMLs whose tables are no longer blocked;
        returns the number of envelope rows drained."""
        return self._drain()[0]

    def _drain(self) -> tuple[int, list[tuple[str, MergeStats]]]:
        """:meth:`drain_pending`, also returning the drain's (target,
        merge stats) pairs; never batch-id gated."""
        if self.spill is None:
            return 0, []
        drained = self.spill.drain()
        if drained is None:
            return 0, []
        pend, old_dirs = drained
        blocked = self.barrier.blocked_sources() if self.barrier else set()
        ok_env, still = split_blocked(pend, blocked)
        # rules that arrived WHILE these rows sat spilled (a dropped
        # table, a poison-location skip, an advanced table point) must
        # gate the drain exactly like the live path
        ok_env = self._gate_env(ok_env)
        n = ok_env.count()
        merged: list[tuple[str, MergeStats]] = []
        if n:
            new_pts, pts_by_target = self._candidate_points(ok_env)
            merged = list(self._merge_targets(self.pipeline.transform(ok_env), pts_by_target).items())
            self._record_points(new_pts)
        # re-spill still-blocked rows into a NEW dir while the old files
        # are intact (lazy plans read them), then drop the old dirs
        if self.barrier and still.count() > 0:
            self.spill.spill(still)
        self.spill.clear_dirs(old_dirs)
        return n, merged

    def pending_locks(self) -> list[dict]:
        """The live view of the barrier's unresolved shard-DDL locks
        (`ddl_coordinator.pending_locks`; `main.py ctl ddl-locks` lists
        the same from runner_state.json)."""
        if self.barrier is None:
            return []
        return pending_locks(self.barrier.announced, self.barrier.groups)

    def force_unlock(
        self,
        target: str,
        ident: dict,
        file_seq: int,
        pos: int,
        exec_ddl: bool = True,
    ) -> dict:
        """unlock-ddl-lock analog (dm/ctl/master/unlock_ddl_lock.go;
        tests/dmctl_advance): force-resolve a pessimistic shard-DDL
        lock whose laggard members will never announce (shard host
        dead, table abandoned without a DROP). `exec_ddl=True` (the
        reference's default exec action) applies the locked DDL to the
        target lake NOW, stamped at the operator-supplied location,
        updates every synced member's tracked schema, and releases the
        barrier — the next drain merges the spilled DMLs;
        `exec_ddl=False` (skip action) releases without applying (the
        DDL is abandoned; spilled rows drain under the old schema).
        Raises if no such lock is pending — force-applying a DDL nobody
        announced is operate-schema/error-op territory, not unlock."""
        from dm_spark.streaming.ddl_coordinator import _ddl_key

        if self.barrier is None:
            raise ValueError(
                "unlock needs a pessimistic shard-DDL barrier on this task "
                "(optimistic mode has no locks; see operate-schema instead)"
            )
        ident = {
            k: ident.get(k) for k in ("action", "column", "new_name", "new_type")
        }
        # the barrier's own key law (one owner): a drifted re-encoding
        # here would silently stop matching any lock
        key = _ddl_key(ident)
        per = self.barrier.announced.get(target) or {}
        if key not in per:
            known = [f"{t}#{k}" for t, p in self.barrier.announced.items() for k in p]
            raise ValueError(
                f"no pending shard-DDL lock {ident} on {target!r} "
                f"(pending locks: {known or 'none'})"
            )
        synced = sorted(per[key])
        act = {**ident, "file_seq": int(file_seq), "pos": int(pos), "suffix": 0}
        applied: list = []
        if exec_ddl and synced:
            # mirror the natural last-announcer apply exactly (expr-filter
            # rename guard, lake catalog, rename chain, applied-DDL log,
            # release) via the forced path...
            applied = self._apply_one(synced[0], act, force=True)
            # ...plus the tracked schemas of the OTHER synced members —
            # their own announce already consumed their delivery of this
            # DDL — but ONLY if the lake actually applied it: when the
            # ddl_high_water gate refused the forced location as
            # obsolete, evolving member registries anyway would diverge
            # them from the lake AND from synced[0] (review r5)
            if applied:
                for m in synced[1:]:
                    if m in self.registry.schemas:
                        self.registry.apply(m, act)
        else:
            # skip action, or a lock restored from older state with an
            # empty announce set (nobody is waiting): release only
            self.barrier.release(target, act)
        return {
            "target": target,
            "ddl": ident,
            "synced": synced,
            "applied": bool(applied),
        }

    # ------------------------------------------------------ crash state
    def state_json(self) -> dict:
        """Crash-durable coordination state — the reference persists
        this as sharding meta + online-DDL meta in the checkpoint DB
        (syncer/sharding-meta/shardmeta.go, online_ddl.go:382). Spilled
        ROWS already survive on disk (PendingSpill lists its fixed
        path); this captures WHO is blocked and WHY: barrier announces,
        dropped sources, error operators, rename chains, tracked shard
        schemas, buffered ghost DDLs. The streaming driver writes it
        atomically after every runner batch and restores it on
        construction, so a kill mid-barrier resumes instead of
        forgetting the pending DDL and orphaning the spill."""
        return {
            "barrier": self.barrier.to_json() if self.barrier else None,
            # groups are NOT static config: DROP TABLE shrinks them
            # (LeaveGroup); restoring the constructor's full groups
            # would make the next shard DDL wait forever on a member
            # that can never announce again
            "barrier_groups": dict(self.barrier.groups) if self.barrier else None,
            "dropped_tables": sorted(self.dropped_tables),
            "dropped_schemas": sorted(self.dropped_schemas),
            "error_ops": [[list(loc), ov] for loc, ov in sorted(self.error_ops.ops.items())],
            "rename_map": dict(self.rename_map),
            "generated_columns": {t: list(cs) for t, cs in self.dynamic_generated.items()},
            "schemas": {t: [list(c) for c in sch] for t, sch in self.registry.schemas.items()},
            "online_ddl": self.online_ddl.to_json(),
            "applied_ddl": self.applied_ddl[-200:],
        }

    def restore_state(self, d: dict) -> None:
        """Inverse of state_json on a freshly-constructed runner (same
        config: groups, spill path, lakes)."""
        if d.get("barrier") is not None and self.barrier is not None:
            groups = d.get("barrier_groups") or self.barrier.groups
            self.barrier = ShardDdlBarrier.from_json(dict(groups), d["barrier"])
        self.dropped_tables = set(d.get("dropped_tables", []))
        self.dropped_schemas = set(d.get("dropped_schemas", []))
        self.error_ops.ops = {tuple(loc): ov for loc, ov in d.get("error_ops", [])}
        self.rename_map = dict(d.get("rename_map", {}))
        gen = d.get("generated_columns", {})
        if isinstance(gen, list):
            # legacy state form (pre-target-scoping): name-global — the
            # only faithful restore is the old global-config semantics
            for c in gen:
                if c not in self.pipeline.config.generated_columns:
                    self.pipeline.config.generated_columns.append(c)
        else:
            for t, cs in gen.items():
                cur = self.dynamic_generated.setdefault(t, [])
                for c in cs:
                    if c not in cur:
                        cur.append(c)
        for t, sch in d.get("schemas", {}).items():
            self.registry.schemas[t] = [tuple(c) for c in sch]
        self.online_ddl = OnlineDdlBuffer.from_json(d.get("online_ddl", {}))
        self.applied_ddl = list(d.get("applied_ddl", []))

    # ------------------------------------------------------------ replay
    def replay(
        self,
        envelope: DataFrame,
        ddl_events: list[DdlEvent],
        batch_id: int | None = None,
        stream_id: str | None = None,
    ) -> list[tuple[str, MergeStats]]:
        """Batch replay of a bounded feed with interleaved DDL:
        split the feed at each DDL statement location
        (flush-before-DDL), merge each range, apply the statement,
        continue. Post-DDL ranges are
        projected to the evolved schema by the pipeline's flatten (the
        envelope's `after` may lack new columns — they fill as null).

        `batch_id`/`stream_id` arm the lakes' exactly-once gate on the
        FIRST range only: a DDL-cut batch never gates itself out, and
        its replay skips that range but re-merges the rest, a suffix
        that LWW and the applied-DDL gate make idempotent. Returns the
        (target, stats) pair of every merge, spill drains included."""
        stmts = _statements(ddl_events)
        merged: list[tuple[str, MergeStats]] = []
        gate = {"batch_id": batch_id, "stream_id": stream_id}
        for i, part in enumerate(location_ranges(envelope, [g[0].loc() for g in stmts])):
            if i:
                self.handle_ddl(*stmts[i - 1])
                merged += self._drain()[1]
            merged += self.apply_dml_batch(part, **(gate if i == 0 else {})).items()
        return merged + self._drain()[1]


def _statements(events) -> list[list[DdlEvent]]:
    """DDL events grouped by statement location (file_seq, pos), in
    location order."""
    return [
        list(g) for _, g in groupby(sorted(events, key=DdlEvent.loc), key=lambda e: e.loc()[:2])
    ]


def location_ranges(
    df: DataFrame, cuts: list[tuple], loc: tuple[str, str] = ("file_seq", "pos")
) -> Iterator[DataFrame]:
    """The contiguous location ranges of a bounded feed, in order:
    (-inf, cuts[0]], (cuts[0], cuts[1]], ..., (cuts[-1], +inf) over the
    (file_seq, pos) struct named by `loc` — len(cuts) + 1 frames, every
    row in exactly one. This is the one cut law behind flush-before-DDL
    (syncer/syncer.go:2362-2366) and every bounded replay's batch split.

    `cuts` must be nondecreasing. Only their first two components count:
    DML rows have no suffix (only injected events do), so two DDLs at
    one position with different suffixes cut an empty range between
    them — yielded, not skipped, so range i always follows cut i-1.
    Ranges are lazy filters; the input is never pinned (a caller that
    reuses an expensive upstream pins it first)."""
    if not cuts:  # one range, the input itself (no py4j round trips)
        yield df
        return
    key = F.struct(*[F.col(c) for c in loc])
    lo = None
    for hi in [*cuts, None]:
        part = df
        if lo is not None:
            part = part.where(key > _loc_lit(lo, loc))
        if hi is not None:
            part = part.where(key <= _loc_lit(hi, loc))
        yield part
        lo = hi


def _loc_lit(cut: tuple, loc: tuple[str, str] = ("file_seq", "pos")) -> Column:
    """A (file_seq, pos) literal comparable with `F.struct(*loc)`."""
    return F.struct(*[F.lit(v).cast("bigint").alias(c) for v, c in zip(cut[:2], loc)])
