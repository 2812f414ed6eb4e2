"""Column mapping + generated-column pruning over row images.

Reference: column mapping syncer/dml.go:331-352 `mappingDML` (the
"partition id" rule embeds a shard ordinal into the key to avoid
shard-merge collisions — tests/sharding/conf/dm-task.yaml:48-62);
generated-column pruning syncer/dml.go:358-395.

Mappings are applied to BOTH images (before/after) with
`Column.withField` — pure Catalyst struct surgery, stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dm_spark.config import ColumnMappingRule, pattern_to_regex


def column_mapping_steps(
    rules: list[ColumnMappingRule], table_col: str = "source_table",
    case_sensitive: bool = False,
) -> list[tuple[str, Column]]:
    """(image column, new value) per step of :func:`apply_column_mappings`,
    in order: a later step sees the images earlier steps rewrote."""
    steps = []
    for r in rules:
        cond = F.col(table_col).rlike(pattern_to_regex(r.pattern, case_sensitive))
        for img in ("before", "after"):
            scoped = r.expr.replace("IMG.", f"{img}.")
            new_img = F.col(img).withField(r.column, F.expr(scoped))
            steps.append(
                (img, F.when(cond & F.col(img).isNotNull(), new_img).otherwise(F.col(img)))
            )
    return steps


def apply_column_mappings(
    df: DataFrame, rules: list[ColumnMappingRule], table_col: str = "source_table",
    case_sensitive: bool = False,
) -> DataFrame:
    for img, value in column_mapping_steps(rules, table_col, case_sensitive):
        df = df.withColumn(img, value)
    return df


def shard_prefix_rule(pattern: str, column: str = "conv_id") -> ColumnMappingRule:
    """The "partition id" analog: prefix the key with the shard ordinal
    parsed from the source table name, so merged shards cannot collide.
    Write `IMG.` where the rule means "this image's field"."""
    return ColumnMappingRule(
        pattern=pattern,
        column=column,
        expr=(
            "concat(regexp_extract(source_table, '^shard_([0-9]+)\\\\.', 1), "
            f"'_', IMG.{column})"
        ),
    )


def pii_scrub_rule(
    pattern: str,
    column: str = "text",
    classes: tuple[str, ...] = ("email", "ip", "phone"),
    extra: list[tuple[str, str]] | None = None,
) -> ColumnMappingRule:
    """Ingest-time PII scrub as a column mapping (the reference's
    column-mapping hook generalized to content rewriting,
    syncer/dml.go:331-352): emails / IPv4s / phone-shaped runs in image
    field `column` are replaced with typed placeholders BEFORE the row
    ever lands in the lake — the compliance-grade shape for transcript
    pipelines (scrub-at-rest leaves a PII-bearing version in history;
    scrub-at-ingest never persists one). `extra` appends custom
    (regex, replacement) pairs — e.g. ('#[0-9]+', '<ID>') to strip
    numeric user/session identifiers.

    Applied to BOTH images by apply_column_mappings, so tombstones and
    key-change splits carry scrubbed payloads too. Runs AFTER the
    filter stages in ApplyPipeline.transform — expression filters match
    on the original values (same order as the reference's mapping
    stage). Pure nested regexp_replace in codegen: a stateless
    projection, zero shuffle cost at any scale. Scrub-rule changes are
    NOT runtime-patchable (content rewriting mid-stream would make the
    lake a mix of scrubbed and raw rows with no marker) — change them
    via task restart, where redelivery + LWW re-scrubs overlaps."""
    from dm_spark.functions.text import PII_EMAIL_RE, PII_IP_RE, PII_PHONE_RE

    pats = {
        "email": (PII_EMAIL_RE, "<EMAIL>"),
        "ip": (PII_IP_RE, "<IP>"),
        "phone": (PII_PHONE_RE, "<PHONE>"),
    }
    unknown = [c for c in classes if c not in pats]
    if unknown:
        raise ValueError(f"pii_scrub_rule: unknown classes {unknown}")
    expr = f"IMG.{column}"
    for regex, repl in [pats[c] for c in classes] + list(extra or []):
        q = regex.replace("\\", "\\\\").replace("'", "\\'")
        expr = f"regexp_replace({expr}, '{q}', '{repl}')"
    return ColumnMappingRule(pattern=pattern, column=column, expr=expr)


def unsigned_reinterpret(df: DataFrame, columns: dict[str, int]) -> DataFrame:
    """Reinterpret signed-decoded integers as unsigned, widened into
    long (syncer/dml.go:185-212 `castUnsigned`): a negative value wraps
    by +2^bits. Pass bits per column — 32 for INT UNSIGNED, 24 for the
    MEDIUMINT special case, 16/8 for SMALLINT/TINYINT. Pure Catalyst
    struct surgery on both images, stays in codegen."""
    for img in ("before", "after"):
        col = F.col(img)
        for c, bits in columns.items():
            v = col.getField(c).cast("long")
            col = col.withField(c, F.when(v < 0, v + F.lit(1 << bits)).otherwise(v))
        df = df.withColumn(img, F.when(F.col(img).isNotNull(), col))
    return df


def prune_generated_steps(generated: list[str]) -> list[tuple[str, Column]]:
    """(image column, new value) per step of :func:`prune_generated_columns`."""
    steps = []
    for img in ("before", "after"):
        col = F.col(img)
        for g in generated:
            col = col.dropFields(g)
        steps.append((img, F.when(F.col(img).isNotNull(), col)))
    return steps


def prune_generated_columns(df: DataFrame, generated: list[str]) -> DataFrame:
    """Generated columns cannot be written downstream — drop them from
    both images (syncer/dml.go:358-395)."""
    for img, value in prune_generated_steps(generated):
        df = df.withColumn(img, value)
    return df
