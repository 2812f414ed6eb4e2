"""Task configuration — the engine's "query".

The reference's unit of work is a task YAML declaring sources, target
and the transform pipeline (reference: dm/config/task.go:279-338 —
routes :316, binlog filters :317, column mappings :318, expression
filters :319, block/allow lists :323, tuning :325-327). Here the same
surface is a dataclass, interpretable from a dict/YAML, compiled into
DataFrame transforms by `dm_spark.operators.apply.ApplyPipeline`.

Patterns use MySQL-wildcard style (`*` any run, `?` one char), matched
against `schema.table` source names, as the reference's
table-rule/router libraries do.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


def pattern_to_regex(p: str, case_sensitive: bool = False) -> str:
    """'shard_*.transcripts_*' -> anchored regex.

    Matching is case-INSENSITIVE by default, like the reference: every
    matching surface (ba-list, binlog filter, column mapping, table
    router) is built with `cfg.CaseSensitive` (syncer/syncer.go:
    323-336), whose config default is false (dm/config/
    source_config.go:94) — mirroring MySQL's usual
    lower_case_table_names behavior. `TaskConfig(case_sensitive=True)`
    opts into exact matching."""
    out = []
    for ch in p:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return ("" if case_sensitive else "(?i)") + "^" + "".join(out) + "$"


@dataclass
class RouteRule:
    """Shard-merge routing (syncer/syncer.go:2943-2960)."""

    pattern: str  # source 'schema.table' wildcard
    target: str


@dataclass
class EventFilterRule:
    """Binlog event-type filter (syncer/filter.go:30-120)."""

    pattern: str
    ignore_ops: list[str]  # subset of ['I','U','D']


@dataclass
class ExprFilterRule:
    """Expression filter (syncer/expr_filter_group.go:30-215).

    Expressions are Spark SQL over the envelope's row images, e.g.
    "after.role = 'tool' AND after.tool = 'debug'". Matching DMLs are
    DROPPED (DM semantics): insert checks `insert_expr` on the new
    image, delete checks `delete_expr` on the old image, update drops
    only when BOTH old and new expressions hold (syncer/dml.go:130-146).
    """

    pattern: str
    insert_expr: str | None = None
    update_old_expr: str | None = None
    update_new_expr: str | None = None
    delete_expr: str | None = None


@dataclass
class DdlFilterRule:
    """Binlog-filter rules for DDL events (syncer/filter.go:30-120
    `skipQueryEvent` / `skipSQLByPattern`): per-table-pattern, drop
    schema actions by kind and/or by regex over the rendered action
    text ("replicate DMLs but ignore drops/truncates")."""

    pattern: str  # source 'schema.table' wildcard
    ignore_kinds: list[str] = field(default_factory=list)  # e.g. ['drop_column']
    action_regex: str | None = None  # regex on "kind column new_name new_type"


@dataclass
class ColumnMappingRule:
    """Column mapping (syncer/dml.go:331-352). `expr` is Spark SQL over
    `before.*`/`after.*`/`source_table`, written into image field
    `column` of both images."""

    pattern: str
    column: str
    expr: str


@dataclass
class TaskConfig:
    target_table: str = "transcripts"
    key: list[str] = field(default_factory=lambda: ["conv_id", "turn_idx"])
    # fallback unique keys for the identity ladder (syncer/dml.go:260-318):
    # when set, key-moving-update detection and the lake merge identity
    # use PK -> first usable UK -> full row per change row
    unique_keys: list[list[str]] = field(default_factory=list)
    # block/allow: allow wins if set; then deny drops (dm/config/task.go:323)
    allow_tables: list[str] = field(default_factory=list)
    deny_tables: list[str] = field(default_factory=list)
    routes: list[RouteRule] = field(default_factory=list)
    event_filters: list[EventFilterRule] = field(default_factory=list)
    expr_filters: list[ExprFilterRule] = field(default_factory=list)
    column_mappings: list[ColumnMappingRule] = field(default_factory=list)
    ddl_filters: list[DdlFilterRule] = field(default_factory=list)
    generated_columns: list[str] = field(default_factory=list)  # pruned (dml.go:358)
    # drop gh-ost/pt-osc ghost & trash table DMLs (syncer/filter.go:74-78)
    online_ddl: bool = True
    # exact-case pattern matching for ba-list/filters/router/mappings
    # (source_config.go:94 `case-sensitive`; reference default false)
    case_sensitive: bool = False
    # physical tuning (dm/config/task.go:70-73 analogs)
    n_buckets: int = 32
    shuffle_partitions: int | None = None
    salt_hot_keys: bool = False

    @staticmethod
    def from_dict(d: dict) -> "TaskConfig":
        c = TaskConfig()
        for k in ("target_table", "key", "unique_keys", "allow_tables", "deny_tables",
                  "generated_columns", "n_buckets", "shuffle_partitions",
                  "salt_hot_keys", "online_ddl", "case_sensitive"):
            if k in d:
                setattr(c, k, d[k])
        c.routes = [RouteRule(**r) for r in d.get("routes", [])]
        c.event_filters = [EventFilterRule(**r) for r in d.get("event_filters", [])]
        c.expr_filters = [ExprFilterRule(**r) for r in d.get("expr_filters", [])]
        c.column_mappings = [ColumnMappingRule(**r) for r in d.get("column_mappings", [])]
        c.ddl_filters = [DdlFilterRule(**r) for r in d.get("ddl_filters", [])]
        return c

    def admits(self, source_table: str) -> bool:
        """Driver-side twin of `ba_list_predicate` (allow list, if any,
        then deny) — the block/allow rule for schema events."""

        def hit(patterns: list[str]) -> bool:
            return any(re.match(pattern_to_regex(p, self.case_sensitive), source_table) for p in patterns)

        return (not self.allow_tables or hit(self.allow_tables)) and not hit(self.deny_tables)

    def route_of(self, source_table: str) -> str:
        """Driver-side twin of `route_tables` (first matching rule wins,
        unrouted keeps the source name) — used to route DDL events to
        their target lake."""
        for r in self.routes:
            if re.match(pattern_to_regex(r.pattern, self.case_sensitive), source_table):
                return r.target
        return source_table
