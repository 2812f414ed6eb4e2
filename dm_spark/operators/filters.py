"""Event filtering stages — pure Catalyst predicates (no UDFs).

Reference behavior:
- block/allow list: syncer/filter.go:122-128 `skipByTable`
- binlog event-type filter: syncer/filter.go:30-120 `skipRowsEvent`
- expression filter: syncer/expr_filter_group.go:30-215, applied in
  syncer/dml.go:73-82 (insert), :130-146 (update: old AND new), :169-178
  (delete)

All of these run before any schema work or DML generation in the
reference (syncer/syncer.go:1998-2006) — the predicate-pushdown analog;
in Spark they are plain `filter`s that Catalyst pushes to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dm_spark.config import EventFilterRule, ExprFilterRule, pattern_to_regex


def _matches(col: Column, pattern: str, case_sensitive: bool = False) -> Column:
    # case-insensitive by default, like every reference matching
    # surface (syncer/syncer.go:323-336 with cfg.CaseSensitive=false)
    return col.rlike(pattern_to_regex(pattern, case_sensitive))


def all_of(preds: list[Column]) -> Column | None:
    """AND of keep-predicates (None for none). One filter over the AND
    keeps exactly the rows a chain of per-predicate filters keeps: a
    row survives iff every predicate is TRUE."""
    out = None
    for p in preds:
        out = p if out is None else out & p
    return out


def _and_filter(df: DataFrame, pred: Column | None) -> DataFrame:
    return df if pred is None else df.filter(pred)


def ba_list_predicate(
    allow: list[str] | None = None,
    deny: list[str] | None = None,
    table_col: str = "source_table",
    case_sensitive: bool = False,
) -> Column | None:
    """Keep-predicate of :func:`ba_list_filter` (None: keeps every row)."""
    c = F.col(table_col)
    preds = []
    if allow:
        keep = F.lit(False)
        for p in allow:
            keep = keep | _matches(c, p, case_sensitive)
        preds.append(keep)
    preds += [~_matches(c, p, case_sensitive) for p in deny or []]
    return all_of(preds)


def ba_list_filter(
    df: DataFrame,
    allow: list[str] | None = None,
    deny: list[str] | None = None,
    table_col: str = "source_table",
    case_sensitive: bool = False,
) -> DataFrame:
    """Keep rows whose source table passes the allow list (if any) and
    is not denied. Allow is evaluated first, as in the reference's
    block-allow-list semantics (dm/config/task.go:323)."""
    return _and_filter(df, ba_list_predicate(allow, deny, table_col, case_sensitive))


def event_type_predicate(
    rules: list[EventFilterRule], table_col: str = "source_table",
    case_sensitive: bool = False,
) -> Column | None:
    """Keep-predicate of :func:`event_type_filter` (None: keeps every row)."""
    return all_of([
        ~(
            _matches(F.col(table_col), r.pattern, case_sensitive)
            & F.col("op").isin(list(r.ignore_ops))
        )
        for r in rules
        if r.ignore_ops
    ])


def event_type_filter(
    df: DataFrame, rules: list[EventFilterRule], table_col: str = "source_table",
    case_sensitive: bool = False,
) -> DataFrame:
    """Drop event classes (I/U/D) per table pattern."""
    return _and_filter(df, event_type_predicate(rules, table_col, case_sensitive))


def expression_predicate(
    rules: list[ExprFilterRule], table_col: str = "source_table",
    case_sensitive: bool = False,
) -> Column | None:
    """Keep-predicate of :func:`expression_filter` (None: keeps every row)."""
    preds = []
    for r in rules:
        tbl = _matches(F.col(table_col), r.pattern, case_sensitive)
        drop = F.lit(False)
        if r.insert_expr:
            drop = drop | ((F.col("op") == "I") & F.expr(r.insert_expr))
        if r.update_old_expr or r.update_new_expr:
            u = F.col("op") == "U"
            if r.update_old_expr:
                u = u & F.expr(r.update_old_expr)
            if r.update_new_expr:
                u = u & F.expr(r.update_new_expr)
            drop = drop | u
        if r.delete_expr:
            drop = drop | ((F.col("op") == "D") & F.expr(r.delete_expr))
        # skip ONLY when the expression is TRUE (syncer/expr_filter_
        # group.go): a NULL-evaluating expression (e.g. a nullable
        # column in a comparison) must KEEP the row — plain ~(cond)
        # is NULL for NULL cond and filter() would silently drop it
        preds.append(~(tbl & drop).eqNullSafe(F.lit(True)))
    return all_of(preds)


def expression_filter(
    df: DataFrame, rules: list[ExprFilterRule], table_col: str = "source_table",
    case_sensitive: bool = False,
) -> DataFrame:
    """Drop DMLs matching user SQL expressions over the row images.

    DM recompiles these against the tracked schema after each DDL
    (syncer/syncer.go:2758); here `F.expr` resolves lazily against the
    envelope struct, so schema evolution is free — re-invoke on the
    post-DDL DataFrame.
    """
    return _and_filter(df, expression_predicate(rules, table_col, case_sensitive))
