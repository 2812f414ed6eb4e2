"""Table router — shard-merge renaming.

Reference: syncer/syncer.go:2943-2960 `route`, rules built at
syncer/syncer.go:2764-2773 from dm/config/task.go:316. N upstream
tables `shard_i.transcripts_j` route to one downstream target — the
shard-merge that the sharding test suites exercise
(tests/sharding/conf/dm-task.yaml:34-46).

Implementation: a chained CASE over anchored regexes — constant-folded
by Catalyst, no join needed for a handful of rules. (A broadcast-joined
mapping table would be the shape for thousands of rules.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dm_spark.config import RouteRule, pattern_to_regex


def route_expr(
    routes: list[RouteRule],
    table_col: str = "source_table",
    default_keep: bool = True,
    case_sensitive: bool = False,
) -> Column:
    """The target-table CASE of :func:`route_tables`."""
    expr = None
    for r in routes:
        cond = F.col(table_col).rlike(pattern_to_regex(r.pattern, case_sensitive))
        expr = F.when(cond, F.lit(r.target)) if expr is None else expr.when(cond, F.lit(r.target))
    fallback = F.col(table_col) if default_keep else F.lit(None).cast("string")
    return fallback if expr is None else expr.otherwise(fallback)


def route_tables(
    df: DataFrame,
    routes: list[RouteRule],
    table_col: str = "source_table",
    target_col: str = "target_table",
    default_keep: bool = True,
    case_sensitive: bool = False,
) -> DataFrame:
    """Add `target_col`; first matching rule wins (reference router
    precedence). Unrouted tables keep their source name when
    `default_keep`, else get NULL (caller may drop them)."""
    return df.withColumn(
        target_col, route_expr(routes, table_col, default_keep, case_sensitive)
    )
