"""The apply pipeline: change envelope -> per-target upsert batch.

Mirrors the reference's rows-event path (syncer/syncer.go:1953-2109,
ordered per SURVEY §3.2): route -> filters -> column mapping ->
generated-column pruning -> DML generation. DML generation here is
`flatten_changes`: the row image plus op plus lineage columns, which
`ApplyPipeline.merge` hands to each target's `LakeTable.merge_into` to
resolve LWW and commit atomically — replacing
causality (syncer/causality.go), hash distribution
(syncer/dml_worker.go:132-137) and the 100-stmt txn batches
(syncer/dml_worker.go:144-238).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dm_spark.config import TaskConfig
from dm_spark.operators.filters import (
    all_of,
    ba_list_predicate,
    event_type_predicate,
    expression_predicate,
)
from dm_spark.operators.mapping import column_mapping_steps, prune_generated_steps
from dm_spark.operators.router import route_expr


def _img_ladder_identity(
    img, pk: list[str], unique_keys: list[list[str]], payload_fields: list[str]
):
    """Ladder identity of one envelope image (struct column) — the
    envelope-side twin of identity.ladder_identity_expr, used only to
    DETECT identity movement between before/after (never persisted, so
    plain field names are fine as labels)."""

    def usable(cols):
        cond = F.lit(True)
        for c in cols:
            cond = cond & img.getField(c).isNotNull()
        return cond

    def keystr(kind, cols):
        parts = [
            F.concat(F.lit(f"{c}="), img.getField(c).cast("string")) for c in cols
        ]
        return F.concat_ws("\x1f", F.lit(kind), *parts)

    rungs = ([("pk", pk)] if pk else []) + [
        (f"uk{i}", uk) for i, uk in enumerate(unique_keys) if uk
    ]
    expr = None
    for kind, cols in rungs:
        expr = (
            F.when(usable(cols), keystr(kind, cols))
            if expr is None
            else expr.when(usable(cols), keystr(kind, cols))
        )
    fallback = keystr("full_row", payload_fields)
    return fallback if expr is None else expr.otherwise(fallback)


def flatten_changes(
    df: DataFrame,
    payload_fields: list[str] | None = None,
    key: list[str] | None = None,
    unique_keys: list[list[str]] | None = None,
) -> DataFrame:
    """Envelope -> flat change rows for MERGE.

    Payload column X = before.X for deletes (old image carries identity,
    syncer/dml.go:154-183) else after.X. Lineage columns carry the LWW
    ordering (commit ts, then binlog location tiebreak).

    **Key-changing UPDATE split**: an update whose identity columns
    moved (before.key != after.key) is rewritten as DELETE(old key) +
    upsert(new key) sharing the event's lineage — otherwise the stale
    row under the old key would survive forever. This is the
    reference's identity-changing-update rewrite (syncer/dml.go:90-152;
    safe-mode genUpdateSQL -> DELETE+REPLACE, syncer/dml.go:586-615).
    The two halves land on different keys, so sharing (ts, file_seq,
    pos) cannot create an LWW tie. Implemented as an explode of a 1- or
    2-element struct array — one pass over the input (no double scan of
    an expensive upstream decode), stays in codegen.

    `unique_keys` (ladder-identity tables): the split fires when the
    row's LADDER identity moved — PK if usable, else first all-non-null
    UK, else full row (syncer/dml.go:260-318) — which also covers rung
    transitions (an update that fills a previously-null PK deletes the
    old UK-identified row and upserts under the PK identity).
    """
    if payload_fields is None:
        payload_fields = df.schema["after"].dataType.fieldNames()
    keep = [c for c in ("target_table",) if c in df.columns]
    for cols in flatten_selects(payload_fields, keep, key, unique_keys):
        df = df.select(*cols)
    return df


def flatten_selects(
    payload_fields: list[str],
    keep: list[str],
    key: list[str] | None = None,
    unique_keys: list[list[str]] | None = None,
) -> list[list]:
    """The select lists :func:`flatten_changes` applies in order, for an
    envelope whose `after` image has `payload_fields` and whose columns
    `keep` pass through."""
    if key is None:
        from dm_spark.feed import KEY_COLS

        key = KEY_COLS
    key = [k for k in key if k in payload_fields]
    op, before, after = F.col("op"), F.col("before"), F.col("after")
    img = F.when(op == "D", before).otherwise(after)
    keep = [F.col(c) for c in keep]
    lineage = [
        F.col("ts").alias("_cdc_ts"),
        F.col("file_seq").alias("_cdc_file_seq"),
        F.col("pos").alias("_cdc_pos"),
    ]
    if not key and not unique_keys:
        # no identity columns known: plain flatten (no split possible)
        return [[*keep, *[img.getField(f).alias(f) for f in payload_fields], op, *lineage]]
    if unique_keys:
        b_id = _img_ladder_identity(before, key, unique_keys, payload_fields)
        a_id = _img_ladder_identity(after, key, unique_keys, payload_fields)
        moved = ~b_id.eqNullSafe(a_id)
    else:
        moved = F.lit(False)
        for k in key:
            moved = moved | ~before.getField(k).eqNullSafe(after.getField(k))
    moved = (op == "U") & before.isNotNull() & after.isNotNull() & moved
    main = F.struct(op.alias("op"), *[img.getField(f).alias(f) for f in payload_fields])
    dhalf = F.struct(
        F.lit("D").alias("op"), *[before.getField(f).alias(f) for f in payload_fields]
    )
    rows = F.when(moved, F.array(dhalf, main)).otherwise(F.array(main))
    r = F.col("__r")
    return [
        [*keep, F.explode(rows).alias("__r"), *lineage],
        [
            *keep,
            *[r.getField(f).alias(f) for f in payload_fields],
            r.getField("op").alias("op"),
            *[F.col(c) for c in ("_cdc_ts", "_cdc_file_seq", "_cdc_pos")],
        ],
    ]


class ApplyPipeline:
    """Compiles a TaskConfig into the envelope->batch transform.

    `location_floor=(file_seq, pos)`: drop events at-or-before this
    location before any other stage — the snapshot-watermark gate of
    mode `all` (events already included in the snapshot must not
    re-apply). A FIELD, not a transform monkeypatch: pipeline swaps
    (config_patch) copy it to the new instance, so the gate survives
    runtime reconfiguration."""

    def __init__(
        self, config: TaskConfig, location_floor: tuple[int, int] | None = None
    ):
        self.config = config
        self.location_floor = location_floor
        # compiled transforms by (config, floor, envelope `after` fields)
        self._compiled: dict[tuple, list] = {}
        self._no_queries = None

    def transform(self, feed: DataFrame) -> DataFrame:
        """Envelope -> flat change batch. The stages compile once per
        envelope shape into DataFrame steps over prebuilt Columns — the
        schema-tracker analog (the reference resolves a table's schema
        once, syncer/syncer.go:2021, and reuses it for every event):
        every `F.*`/Column call is several py4j round trips, and
        rebuilding them per micro-batch cost ~1,500 round trips of
        driver time. The key holds the config's repr, so a config
        mutated in place recompiles too."""
        key = (
            repr(self.config),
            self.location_floor,
            tuple(feed.schema["after"].dataType.fieldNames()),
        )
        steps = self._compiled.get(key)
        if steps is None:
            if len(self._compiled) >= 8:
                self._compiled.pop(next(iter(self._compiled)))
            steps = self._compiled[key] = self._compile(feed)
        for step in steps:
            feed = step(feed)
        return feed

    def without_queries(self, feed: DataFrame) -> DataFrame:
        """Drop query events (op='Q'): they carry DDL, not row images."""
        if self._no_queries is None:
            self._no_queries = F.col("op") != "Q"
        return feed.where(self._no_queries)

    def _compile(self, feed: DataFrame) -> list:
        c = self.config
        cs = c.case_sensitive
        preds = []
        if self.location_floor is not None:
            fs, pos = self.location_floor
            loc = F.struct(F.col("file_seq"), F.col("pos"))
            lo = F.struct(
                F.lit(fs).cast("bigint").alias("file_seq"),
                F.lit(pos).cast("bigint").alias("pos"),
            )
            preds.append(loc > lo)
        if c.online_ddl:
            from dm_spark.schema.online_ddl import online_ddl_predicate

            preds.append(online_ddl_predicate())
        preds += [
            p
            for p in (
                ba_list_predicate(c.allow_tables, c.deny_tables, case_sensitive=cs),
                event_type_predicate(c.event_filters, case_sensitive=cs),
                expression_predicate(c.expr_filters, case_sensitive=cs),
            )
            if p is not None
        ]
        # every row filter precedes the image rewrites, so they AND into one
        keep = all_of(preds)
        steps = [] if keep is None else [lambda df: df.filter(keep)]
        images = column_mapping_steps(c.column_mappings, case_sensitive=cs)
        if c.generated_columns:
            images += prune_generated_steps(c.generated_columns)
        images.append(("target_table", route_expr(c.routes, case_sensitive=cs)))
        steps += [lambda df, n=n, v=v: df.withColumn(n, v) for n, v in images]
        df = feed
        for step in steps:
            df = step(df)
        # the configured key drives the key-changing-update split — a
        # task keyed differently from the feed default must still split
        # moved identities into DELETE(old)+upsert(new) (ADVICE r02);
        # unique_keys switches the split to ladder-identity movement
        payload = df.schema["after"].dataType.fieldNames()
        selects = flatten_selects(payload, ["target_table"], c.key, c.unique_keys or None)
        return steps + [lambda df, cols=cols: df.select(*cols) for cols in selects]

    # at this many targets the per-target merges fan out over a driver
    # thread pool (Spark jobs are thread-safe per session); below it
    # the pool overhead isn't worth it
    MERGE_POOL_MIN_TARGETS = 4
    MERGE_POOL_WORKERS = 8

    def merge(
        self,
        flat: DataFrame,
        lakes: dict[str, "LakeTable"],
        part,
        points: dict | None = None,
        **merge_kw,
    ) -> dict[str, "MergeStats"]:
        """Merge a routed flat batch (the output of `transform`) into
        its target lakes: one atomic LWW commit per target, the DML
        workers of the reference (syncer/dml_worker.go:132-238). Each
        target merges the rows `part(flat, target)` selects (the
        runner's `_to_target_shape`); `points` maps a target to the per-table
        checkpoints its commit records. `salt_hot_keys` in the task
        config turns on the salted pre-reduction inside each merge.

        With many targets (reference `tests/many_tables` runs 500+), a
        serial loop is O(targets) in driver-side job launches, so the
        merges fan out over a bounded thread pool: each lake's commit is
        still its own snapshot and no two threads touch one lake. Errors
        propagate after every merge has finished."""
        pre = 16 if self.config.salt_hot_keys else None
        many = len(lakes) > 1
        if many:
            # each target's merge scans the batch: persist so a multi-
            # target merge doesn't recompute the upstream per lake
            flat = flat.persist()

        def one(target: str):
            return lakes[target].merge_into(
                part(flat, target), pre_reduce=pre,
                table_points=(points or {}).get(target), **merge_kw,
            )

        try:
            if len(lakes) < self.MERGE_POOL_MIN_TARGETS:
                return {t: one(t) for t in lakes}
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(self.MERGE_POOL_WORKERS, len(lakes)),
                thread_name_prefix="dm-merge",
            ) as pool:
                futs = {t: pool.submit(one, t) for t in lakes}
            # every merge has finished here; result() raises the first error
            return {t: f.result() for t, f in futs.items()}
        finally:
            if many:
                flat.unpersist()
