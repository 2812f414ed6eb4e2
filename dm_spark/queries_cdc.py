"""CDC operator queries + their DuckDB oracle SQL.

Each entry exercises one operator from SURVEY.md §2 end-to-end on the
deterministic change feed derived from the `events` table, and has an
exact ANSI-SQL twin the driver runs on DuckDB. Timestamps are returned
as epoch microseconds (bigint) so value hashing is engine-stable.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dm_spark.config import (
    ColumnMappingRule,
    EventFilterRule,
    ExprFilterRule,
    RouteRule,
    TaskConfig,
)
from dm_spark.feed import FEED_SQL, change_feed, feed_sql
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline, flatten_changes, lww_latest
from dm_spark.operators.filters import ba_list_filter, event_type_filter, expression_filter
from dm_spark.functions.text import (
    PII_EMAIL_RE as _PII_EMAIL_RE,
    PII_IP_RE as _PII_IP_RE,
    PII_PHONE_RE as _PII_PHONE_RE,
)
from dm_spark.operators.mapping import apply_column_mappings, shard_prefix_rule
from dm_spark.operators.router import route_tables
from dm_spark.plans import location_ranges

SCHEMA = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
]
KEY = ["conv_id", "turn_idx"]

_FLAT_COLS = [
    "op",
    "coalesce(after.conv_id, before.conv_id) AS conv_id",
    "coalesce(after.turn_idx, before.turn_idx) AS turn_idx",
    "coalesce(after.role, before.role) AS role",
    "coalesce(after.text, before.text) AS text",
    "coalesce(after.tool, before.tool) AS tool",
    "unix_micros(ts) AS ts_us",
    "source_table",
    "file_seq",
    "pos",
    "txn_id",
]

_ORACLE_FLAT = "SELECT op, conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us, source_table, file_seq, pos, txn_id FROM feed"

# Key-moving updates split into DELETE(old key) + upsert(new key) with
# shared lineage — the flatten_changes law (syncer/dml.go:90-152).
_SPLIT = """
split AS (
  SELECT op, conv_id, turn_idx, role, text, tool, ts, file_seq, pos, txn_id FROM feed
  UNION ALL
  SELECT 'D' AS op, conv_id, before_turn_idx AS turn_idx, role, text, tool,
         ts, file_seq, pos, txn_id
  FROM feed WHERE key_moved
)"""

_REPLAY = (
    _SPLIT
    + """,
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx
    ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn
  FROM split
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
FROM latest WHERE rn = 1 AND op <> 'D'
"""
)

# _REPLAY's final state as a reusable CTE, for queries that aggregate
# OVER the replayed table (the corpus-off-the-lake composites)
_FINAL_CTE = (
    _SPLIT
    + """,
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx
    ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn
  FROM split
),
fin AS (
  SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
  FROM latest WHERE rn = 1 AND op <> 'D'
)"""
)

_N_TOKENS = "len(list_filter(string_split(text, ' '), x -> x <> ''))"

_ASSEMBLY = (
    _FINAL_CTE
    + f"""
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_turns,
       CAST(sum({_N_TOKENS}) AS BIGINT) AS n_tokens,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS convo_fp,
       min(ts_us) AS first_ts_us, max(ts_us) AS last_ts_us
FROM fin GROUP BY 1
"""
)

_TOOL_USAGE = (
    _FINAL_CTE
    + f"""
SELECT tool, count(*) AS n_calls, count(DISTINCT conv_id) AS n_convs,
       CAST(sum({_N_TOKENS}) AS BIGINT) AS n_tokens
FROM fin WHERE role = 'tool' GROUP BY 1
"""
)

_SFT = (
    _FINAL_CTE
    + f""",
ctx AS (
  SELECT conv_id, turn_idx, role, text,
         count(*) OVER w AS ctx_turns,
         CAST(sum({_N_TOKENS}) OVER w AS BIGINT) AS ctx_tokens,
         md5(string_agg(role || ': ' || text, chr(10)) OVER w) AS ctx_fp
  FROM fin
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT conv_id, turn_idx, ctx_turns, ctx_tokens, ctx_fp,
       CAST({_N_TOKENS} AS BIGINT) AS target_tokens
FROM ctx WHERE role = 'assistant' AND ctx_turns >= 1
"""
)

_CTX_BUDGET = 24

_CTX_WINDOW = (
    _FINAL_CTE
    + f""",
runs AS (
  SELECT conv_id, turn_idx, {_N_TOKENS} AS tok,
         sum({_N_TOKENS}) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM fin
)
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(CASE WHEN run <= {_CTX_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_turns,
       CAST(coalesce(sum(CASE WHEN run <= {_CTX_BUDGET} THEN tok END), 0)
            AS BIGINT) AS kept_tokens,
       min(CASE WHEN run <= {_CTX_BUDGET} THEN turn_idx END) AS first_kept_idx
FROM runs GROUP BY 1
"""
)


_TURN_DEDUP = (
    _FINAL_CTE
    + """,
f AS (
  SELECT conv_id, turn_idx, md5(role || ':' || text) AS turn_fp FROM fin
),
w AS (
  SELECT turn_fp, conv_id, turn_idx,
         row_number() OVER (PARTITION BY turn_fp
                            ORDER BY conv_id, turn_idx) AS rn,
         count(*) OVER (PARTITION BY turn_fp) AS n_occ
  FROM f
)
SELECT turn_fp, CAST(n_occ AS BIGINT) AS n_occ,
       conv_id AS keep_conv, turn_idx AS keep_turn
FROM w WHERE rn = 1
"""
)

# preference_pairs twin: same single window over the key, final-row
# attributes via first_value over the desc frame, min-rank survivor
_PREF_PAIRS = (
    _SPLIT
    + """,
t AS (
  SELECT conv_id, turn_idx, op, text,
         row_number() OVER w AS rn,
         first_value(text) OVER w AS chosen,
         first_value(op) OVER w AS fin_op,
         first_value(role) OVER w AS fin_role
  FROM split
  WINDOW w AS (PARTITION BY conv_id, turn_idx
               ORDER BY ts DESC, file_seq DESC, pos DESC)
)
SELECT conv_id, turn_idx, max(chosen) AS chosen,
       min_by(text, rn) AS rejected,
       CAST(count(*) AS BIGINT) AS n_superseded
FROM t
WHERE fin_op <> 'D' AND fin_role = 'assistant'
  AND rn > 1 AND op <> 'D' AND text <> chosen
GROUP BY 1, 2
"""
)

# tool_transitions twin: lag window over tool turns, pair groupBy
_TOOL_TRANS = (
    _FINAL_CTE
    + """,
t AS (
  SELECT conv_id, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
  FROM fin WHERE role = 'tool'
)
SELECT coalesce(prev_tool, '<start>') AS from_tool, tool AS to_tool,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM t GROUP BY 1, 2
"""
)

# prefix_templates twin: cumulative masked-line fingerprints, shared
# groups at each depth, deepest shared prefix per conversation
_PREFIX_TPL = (
    _FINAL_CTE
    + """,
lines AS (
  SELECT conv_id, turn_idx,
         coalesce(role, '') || ': ' ||
         regexp_replace(coalesce(text, ''), '[0-9]+', '0', 'g') AS line
  FROM fin
),
pfx AS (
  SELECT conv_id,
         CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
              AS BIGINT) AS d,
         md5(string_agg(line, chr(10)) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pfx_fp
  FROM lines
),
g AS (
  SELECT d, pfx_fp, CAST(count(*) AS BIGINT) AS n
  FROM pfx GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.conv_id, max(p.d) AS shared_depth,
       arg_max(p.pfx_fp, p.d) AS template_fp,
       arg_max(g.n, p.d) AS n_sharers
FROM pfx p JOIN g USING (d, pfx_fp)
GROUP BY 1
"""
)


# best_of_history twin: same single key exchange as _PREF_PAIRS —
# final-row attributes via the ts-desc window, argmax via a score-desc
# row_number among the non-delete history rows
_BEST_OF = (
    _SPLIT
    + """,
t AS (
  SELECT conv_id, turn_idx, op, text,
         CAST(len(list_distinct(list_filter(
              string_split(coalesce(text, ''), ' '), x -> x <> ''))) AS BIGINT)
           AS score,
         ts, file_seq, pos,
         first_value(text) OVER w AS fin_text,
         first_value(op) OVER w AS fin_op,
         first_value(role) OVER w AS fin_role
  FROM split
  WINDOW w AS (PARTITION BY conv_id, turn_idx
               ORDER BY ts DESC, file_seq DESC, pos DESC)
),
cand AS (
  SELECT *,
         row_number() OVER (PARTITION BY conv_id, turn_idx
             ORDER BY score DESC, ts DESC, file_seq DESC, pos DESC) AS brn,
         CAST(count(*) OVER (PARTITION BY conv_id, turn_idx) AS BIGINT)
           AS n_versions
  FROM t WHERE fin_op <> 'D' AND fin_role = 'assistant' AND op <> 'D'
)
SELECT conv_id, turn_idx, n_versions, score AS best_score,
       md5(coalesce(text, '')) AS best_fp,
       CAST(coalesce(text, '') = coalesce(fin_text, '') AS INT) AS best_is_lww
FROM cand WHERE brn = 1
"""
)

# sft_loss_masks twin: the packed 'role: text' line geometry — one
# running-sum window over the same conv_id sort the SFT twin uses
_LINE_TOKENS = "len(list_filter(string_split(role || ': ' || text, ' '), x -> x <> ''))"

_LOSS_MASKS = (
    _FINAL_CTE
    + f""",
l AS (
  SELECT conv_id, turn_idx, role,
         CAST({_LINE_TOKENS} AS BIGINT) AS tok,
         CAST(coalesce(sum({_LINE_TOKENS}) OVER (
              PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM fin
)
SELECT conv_id, turn_idx, start_tok, start_tok + tok AS end_tok,
       CAST(role = 'assistant' AS INT) AS loss_mask
FROM l
"""
)

# conv_dedup twin: digit-masked ordered-text fingerprint per
# conversation, then a min-survivor group over the fingerprint
_CONV_DEDUP = (
    _FINAL_CTE
    + """,
pc AS (
  SELECT conv_id,
         md5(string_agg(coalesce(regexp_replace(text, '[0-9]+', '0', 'g'),
             chr(0)), chr(10) ORDER BY turn_idx)) AS conv_fp,
         CAST(count(*) AS BIGINT) AS n_turns
  FROM fin GROUP BY 1
)
SELECT conv_fp, CAST(count(*) AS BIGINT) AS n_convs,
       min(conv_id) AS keep_conv,
       arg_min(n_turns, conv_id) AS n_turns
FROM pc GROUP BY 1
"""
)


def _eid_bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(min, max) event_id of `<sf_dir>/events.parquet` from parquet
    FOOTER statistics — zero Spark jobs, zero data scan (guide §1/§6) —
    with one min/max agg job as the fallback when statistics are
    missing. Every feed location component is a strictly increasing
    function of event_id (file_seq = eid//1000, pos = eid%1000, txn_id =
    eid//10), so these bounds place every fixture cut (_feed_ranges,
    _txn_cut) exactly where an agg over the feed would."""
    from dm_spark.scan import parquet_column_bounds

    path = os.path.join(sf_dir, "events.parquet")
    b = parquet_column_bounds(path, "event_id")
    if b is None:
        b = spark.read.parquet(path).agg(F.min("event_id"), F.max("event_id")).first()
    return int(b[0]), int(b[1])


def _txn_cut(spark: SparkSession, sf_dir: str, num: int, den: int) -> tuple[int, int]:
    """Location of the last event of the txn `num/den` of the way
    through the fixture feed's txn range: `location_ranges(feed, [cut])`
    then splits the feed into txn_id <= t and txn_id > t exactly (txn t
    ends at eid 10t+9, and location order is event_id order)."""
    lo, hi = (eid // 10 for eid in _eid_bounds(spark, sf_dir))
    t = lo + (hi - lo) * num // den
    return divmod(10 * t + 9, 1000)


def _fixture_buckets(sf_dir: str, default: int = 16) -> int:
    """Scale-adaptive bucket count for the transient replay-fixture
    lakes: ~25k feed events per bucket, power of two in [4, 32] (guide
    §2: derive partitioning from input size instead of a constant tuned
    for one scale). The bucket count only shapes the physical layout —
    merge task count and files per commit — never the replayed state;
    at the small driver sfs 4 buckets cut the per-commit fixed cost
    (measured at sf0.1: 4-merge replay 3.4 -> 3.0s vs n_buckets=16),
    while a larger generated sf scales back up to 32 write slots.
    Production tables size n_buckets by target bucket bytes instead
    (lake/table.py docstring); this law is for the bounded fixtures."""
    from dm_spark.scan import parquet_num_rows

    n = parquet_num_rows(os.path.join(sf_dir, "events.parquet"))
    if n is None:
        return default
    nb = 4
    while nb < 32 and n > nb * 25_000:
        nb *= 2
    return nb


def _flat(df: DataFrame) -> DataFrame:
    return df.selectExpr(*_FLAT_COLS)


def _final_us(lake: LakeTable) -> DataFrame:
    return lake.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", F.unix_micros("ts").alias("ts_us")
    )


def _feed_ranges(batch: DataFrame, sf_dir: str) -> Iterator[DataFrame]:
    """Pin a flattened fixture batch and cut it into 4 contiguous
    location ranges (over _cdc_file_seq/_cdc_pos) for the replay and
    fold loops.

    Pin: localCheckpoint, not persist(): .persist() keeps the full
    lineage, so every per-range ACTION still re-optimizes the
    scan+envelope+explode subtree driver-side (~0.2-0.3s/action — the
    dominant per-merge cost at bench scale, measured via noop isolation:
    the warm upstream compute is only ~0.05s); the eager local
    checkpoint materializes the flattened batch ONCE and truncates the
    plan, so each range plans over a leaf scan. Measured at sf0.1:
    replay 3.9 -> 3.2s warm, 13.0 -> 4.2s cold (first-plan codegen paid
    once, not five times). Scale shape: one bounded batch materialized
    per replay — the same "materialize an expensive/reused upstream"
    rule the ANN candidate paths apply (guide §3.3/§5).

    Cuts: equal-width over the location ordinal file_seq * 1e6 + pos,
    between the footer bounds of the unfiltered feed (_eid_bounds); an
    ordinal cut c becomes the location divmod(c, 1e6), which bounds the
    same rows because pos < 1e6 (pos = eid % 1000). For the
    unfiltered feed the bounds are EXACT; for a filtered batch they may
    be wider, which only shifts the cut positions: the final state is
    cut-invariant because ranges stay contiguous increasing location
    ranges and the fixture feeds' LWW order (ts, file_seq, pos) is
    consistent with location order (ts monotone in event_id), so a later
    range can never lose LWW to — nor resurrect a delete from — an
    earlier one. The DuckDB oracle (global single-window law) pins this
    at every sf."""
    batch = batch.localCheckpoint(eager=True)
    lo, hi = (
        (eid // 1000) * 1_000_000 + eid % 1000 for eid in _eid_bounds(batch.sparkSession, sf_dir)
    )
    width = max(1, (hi - lo + 4) // 4)  # 4 * width > hi - lo: at most 3 cuts
    cuts = [divmod(c, 1_000_000) for c in range(lo + width, hi, width)]
    return location_ranges(batch, cuts, loc=("_cdc_file_seq", "_cdc_pos"))


def _replay_through_lake(
    spark: SparkSession, batch: DataFrame, sf_dir: str,
    schema=None, write_mode: str = "cow", compact_after: bool = False,
    pre_reduce: int | None = None, unique_keys=None, change_feed: bool = False,
) -> LakeTable:
    lake = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="dm_q_"), schema or SCHEMA, KEY,
        n_buckets=_fixture_buckets(sf_dir), write_mode=write_mode,
        unique_keys=unique_keys, change_feed=change_feed,
    )
    for i, part in enumerate(_feed_ranges(batch, sf_dir)):
        # bulk replay touches all buckets: each merge skips the
        # touched-bucket pre-pass and runs as one job
        lake.merge_into(part, batch_id=i, pre_reduce=pre_reduce)
    if compact_after:
        lake.compact()
    return lake


_ROUTES = [RouteRule(pattern="shard_*.transcripts_*", target="transcripts")]


def _routed_batch(spark, sf_dir):
    """The canonical replay input: the deterministic feed routed and
    flattened by the standard pipeline (single source for every
    composite query — change here changes all of them together)."""
    cfg = TaskConfig(routes=list(_ROUTES))
    return ApplyPipeline(cfg).transform(change_feed(spark, sf_dir)).drop("target_table")


def _replayed_fin(spark, sf_dir):
    """FINAL replayed state (conv_id, turn_idx, role, text, tool,
    ts_us) — the frame every off-the-lake composite aggregates."""
    return _final_us(_replay_through_lake(spark, _routed_batch(spark, sf_dir), sf_dir))


# ------------------------------------------------------------------ queries

def q_feed_decode(spark, sf_dir):
    return _flat(change_feed(spark, sf_dir))


def q_wire_decode(spark, sf_dir):
    """Round-trip through the wire format: envelope -> JSON wire rows ->
    Arrow-batched pandas decode -> envelope (the go-mysql decode analog).
    Must be value-identical to the direct feed.

    Scan-parallelism is SIZE-GATED (footer row count, zero scan):
    below ~300k events the Arrow-native kernel clears the feed on one
    core faster than 32 cold python workers start (reuse=false,
    session.py; measured at sf0.1/100k: 1.2s single-task vs 2.4s
    parallel), while at 10x that the single task is the bottleneck
    (measured on a 1M-event fixture: 4.3s single vs ~1.3s parallel) —
    the crossover is where per-row work outweighs worker spin-up.
    The repartition sits UNDER the
    envelope build (change_feed(parallelize=True)) so the exchange
    carries the narrow raw rows, not the built structs; it is a no-op
    once the input has enough row-groups of its own."""
    from dm_spark.scan import parquet_num_rows
    from dm_spark.sources.decode import decode_wire, to_wire

    n = parquet_num_rows(os.path.join(sf_dir, "events.parquet"))
    feed = change_feed(spark, sf_dir, parallelize=bool(n and n >= 300_000))
    return _flat(decode_wire(to_wire(feed)))


def q_wire_decode_jvm(spark, sf_dir):
    """Same wire round-trip decoded fully JVM-side (from_json inside
    whole-stage codegen, zero Python workers) — the fast path for a
    static wire schema; must be value-identical to the pandas decode
    (shared oracle). Takes the adaptive scan floor UNDER the envelope
    unconditionally: the per-row to_json/from_json work is the heavy
    stage and there are no python workers to spin up, so the narrow
    raw-scan exchange is cheap at every size."""
    from dm_spark.sources.decode import decode_wire_jvm, to_wire

    return _flat(
        decode_wire_jvm(to_wire(change_feed(spark, sf_dir, parallelize=True)))
    )


def q_generated_prune(spark, sf_dir):
    """Generated-column pruning (syncer/dml.go:358-395): `tool` is a
    generated column — dropped from both images before DML gen, so the
    flattened batch carries no tool at all."""
    cfg = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")],
        generated_columns=["tool"],
    )
    batch = ApplyPipeline(cfg).transform(change_feed(spark, sf_dir))
    assert "tool" not in batch.columns
    return batch.selectExpr(
        "op", "conv_id", "turn_idx", "role", "text",
        "_cdc_file_seq AS file_seq", "_cdc_pos AS pos",
    )


def q_ba_list_filter(spark, sf_dir):
    return _flat(ba_list_filter(change_feed(spark, sf_dir), deny=["shard_3.*"]))


def q_event_type_filter(spark, sf_dir):
    rules = [EventFilterRule(pattern="shard_*.transcripts_1", ignore_ops=["D"])]
    return _flat(event_type_filter(change_feed(spark, sf_dir), rules))


def q_expr_filter(spark, sf_dir):
    rules = [
        ExprFilterRule(
            pattern="shard_*.transcripts_*",
            insert_expr="after.role = 'tool' AND after.tool = 'tool_0'",
            delete_expr="before.turn_idx < 5",
        )
    ]
    return _flat(expression_filter(change_feed(spark, sf_dir), rules))


def q_table_router(spark, sf_dir):
    routes = [
        RouteRule(pattern="shard_3.*", target="quarantine"),
        RouteRule(pattern="shard_*.transcripts_*", target="transcripts"),
    ]
    return (
        route_tables(change_feed(spark, sf_dir), routes)
        .groupBy("source_table", "target_table")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_column_mapping(spark, sf_dir):
    df = apply_column_mappings(
        change_feed(spark, sf_dir), [shard_prefix_rule("shard_*.transcripts_*")]
    )
    return flatten_changes(df).selectExpr(
        "op", "conv_id", "turn_idx", "_cdc_file_seq AS file_seq", "_cdc_pos AS pos"
    )


def q_dedup_lww(spark, sf_dir):
    flat = _flat(change_feed(spark, sf_dir))
    return lww_latest(flat, KEY, ["ts_us", "file_seq", "pos"]).select(
        "conv_id", "turn_idx", "op", "text", "ts_us"
    )


def q_dedup_lww_salted(spark, sf_dir):
    """Two-phase salted LWW — must be value-identical to the plain
    window dedup (shared oracle): the hot-key skew path."""
    from dm_spark.operators import lww_latest_salted

    flat = _flat(change_feed(spark, sf_dir))
    return lww_latest_salted(flat, KEY, ["ts_us", "file_seq", "pos"]).select(
        "conv_id", "turn_idx", "op", "text", "ts_us"
    )


def q_replay_merge(spark, sf_dir):
    batch = _routed_batch(spark, sf_dir)
    return _final_us(_replay_through_lake(spark, batch, sf_dir))


def q_replay_scrubbed(spark, sf_dir):
    """Ingest-time PII/identifier scrub through the full replay path:
    a pii_scrub_rule column mapping rewrites image `text` (emails /
    IPv4s / phone runs -> typed placeholders, plus '#<digits>' ->
    '<ID>' for the feed's numeric event identifiers) BEFORE the merge,
    so no unscrubbed row version ever lands in the lake. The oracle
    scrubs the replayed final state instead — equivalent because text
    participates in neither identity nor LWW ordering, and it proves
    exactly that: ingest-time scrubbing commutes with replay."""
    from dm_spark.operators.mapping import pii_scrub_rule

    cfg = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")],
        column_mappings=[
            pii_scrub_rule(
                "shard_*.transcripts_*", "text", extra=[("#[0-9]+", "<ID>")]
            )
        ],
    )
    batch = ApplyPipeline(cfg).transform(change_feed(spark, sf_dir)).drop("target_table")
    return _final_us(_replay_through_lake(spark, batch, sf_dir))


def q_convo_hygiene(spark, sf_dir):
    """Transcript hygiene QA off the ingested lake: per-conversation
    structural validation of the FINAL table state — does it start with
    a user turn, are there adjacent same-role turns, does every tool
    turn follow an assistant turn (the orphan-tool check; a tool result
    with no preceding call is corrupt data a trainer must not see).
    This is the transcript analog of the reference's continuous
    validation idea: the replicated table is checked for STRUCTURE, not
    just row parity.

    Scale shape: one exchange keyed conv_id — the lag/row_number window
    and the groupBy reuse the same hash partitioning; no second
    shuffle, no collect, bounded by conversation length nowhere."""
    fin = _replayed_fin(spark, sf_dir)
    return convo_hygiene(fin)


def convo_hygiene(fin):
    """The hygiene law over any (conv_id, turn_idx, role) frame — see
    q_convo_hygiene. Factored so tests can pin the edge cases (orphan
    tool at turn 1, adjacent repeats) on crafted conversations."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = fin.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lag("role").over(w).alias("prev_role"),
        F.row_number().over(w).alias("rn"),
    )
    agg = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.bool_or((F.col("rn") == 1) & (F.col("role") == "user")).alias(
            "starts_with_user"
        ),
        F.sum(
            F.when(F.col("role") == F.col("prev_role"), 1).otherwise(0)
        ).cast("bigint").alias("n_role_repeats"),
        F.sum(
            F.when(
                (F.col("role") == "tool")
                & (F.coalesce(F.col("prev_role"), F.lit("")) != "assistant"),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_orphan_tools"),
    )
    return agg.select(
        "conv_id",
        "n_turns",
        "starts_with_user",
        "n_role_repeats",
        "n_orphan_tools",
        (
            F.col("starts_with_user")
            & (F.col("n_role_repeats") == 0)
            & (F.col("n_orphan_tools") == 0)
        ).alias("valid"),
    )


def q_change_feed_chain(spark, sf_dir):
    """CDC-out closure (the Delta CDF analog, no reference counterpart —
    dm consumes CDC, never emits): replay the feed into lake1 with
    change_feed=True, then build lake2 PURELY from lake1.changes().
    lake2's final state must equal the direct replay (shared _REPLAY
    oracle) — deletes, key-moving updates and LWW overwrites all
    propagate through the emitted feed. This is what lets a downstream
    pipeline consume incremental table deltas instead of rescanning at
    every step."""
    batch = _routed_batch(spark, sf_dir)
    lake1 = _replay_through_lake(spark, batch, sf_dir, change_feed=True)
    lake2 = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="dm_q_"), SCHEMA, KEY,
        n_buckets=_fixture_buckets(sf_dir)
    )
    lake2.merge_into(lake1.changes())
    return _final_us(lake2)


def q_change_feed_chain_mor(spark, sf_dir):
    """Same chain through the MoR primary + version-cursor poll
    replication (replicate_lake_poll): the MoR change feed is FREE
    (delta files double as the change set) and the poll path admits by
    the committed manifest — the production topology. Shares the
    _REPLAY oracle: the replica's state must equal the direct replay."""
    from dm_spark.streaming import replicate_lake_poll

    batch = _routed_batch(spark, sf_dir)
    lake1 = _replay_through_lake(spark, batch, sf_dir, write_mode="mor", change_feed=True)
    lake2 = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="dm_q_"), SCHEMA, KEY,
        n_buckets=_fixture_buckets(sf_dir)
    )
    replicate_lake_poll(spark, lake1, lake2, "q_chain_mor")
    return _final_us(lake2)


def q_replay_merge_salted(spark, sf_dir):
    """Same replay with the salted pre-reduction on (Compactor + skew
    salting: each key contributes one winner per batch to the merge
    shuffle) — must be state-identical to the plain replay (shared
    oracle)."""
    batch = _routed_batch(spark, sf_dir)
    return _final_us(_replay_through_lake(spark, batch, sf_dir, pre_reduce=16))


def q_replay_merge_mor(spark, sf_dir):
    """Same replay through the merge-on-read write path (delta appends
    + tombstones + compaction) — shares the CoW oracle, proving the two
    storage modes are state-equivalent."""
    batch = _routed_batch(spark, sf_dir)
    lake = _replay_through_lake(spark, batch, sf_dir, write_mode="mor", compact_after=True)
    return _final_us(lake)


def q_replay_filtered(spark, sf_dir):
    cfg = TaskConfig(
        deny_tables=["shard_3.*"],
        event_filters=[EventFilterRule(pattern="shard_*.transcripts_1", ignore_ops=["D"])],
        expr_filters=[
            ExprFilterRule(
                pattern="shard_*.transcripts_*",
                insert_expr="after.role = 'tool' AND after.tool = 'tool_0'",
            )
        ],
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")],
    )
    batch = ApplyPipeline(cfg).transform(change_feed(spark, sf_dir)).drop("target_table")
    return _final_us(_replay_through_lake(spark, batch, sf_dir))


def q_shard_merge_mapped(spark, sf_dir):
    cfg = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")],
        column_mappings=[shard_prefix_rule("shard_*.transcripts_*")],
    )
    batch = ApplyPipeline(cfg).transform(change_feed(spark, sf_dir)).drop("target_table")
    return _final_us(_replay_through_lake(spark, batch, sf_dir))


def q_safe_mode_replay(spark, sf_dir):
    """Duplicate-window redelivery: the last ~20% of txns are delivered
    twice; idempotent LWW merge must converge to the plain replay."""
    cfg = TaskConfig(routes=list(_ROUTES))
    feed = change_feed(spark, sf_dir)
    batch = ApplyPipeline(cfg).transform(feed).drop("target_table")
    lake = _replay_through_lake(spark, batch, sf_dir)
    _, tail = location_ranges(feed, [_txn_cut(spark, sf_dir, 4, 5)])
    tail = ApplyPipeline(cfg).transform(tail).drop("target_table")
    lake.merge_into(tail)  # redelivery, no batch gate
    return _final_us(lake)


def q_key_change_replay(spark, sf_dir):
    """Key-changing UPDATE torture replay: EVERY update moves the key
    (km_every=1). `flatten_changes` must rewrite each as DELETE(old key)
    + upsert(new key) or ghost rows survive under the old keys — the
    reference's identity-changing-update rewrite (syncer/dml.go:90-152,
    safe-mode genUpdateSQL syncer/dml.go:586-615)."""
    cfg = TaskConfig(routes=list(_ROUTES))
    feed = change_feed(spark, sf_dir, km_every=1)
    batch = ApplyPipeline(cfg).transform(feed).drop("target_table")
    return _final_us(_replay_through_lake(spark, batch, sf_dir))


def _uk_feed(spark, sf_dir):
    """The UK-identity fixture: the plain feed (key moves disabled) with
    a surrogate unique column `uk_id` = original conv_id '#' turn_idx
    added to both images, and conv_id — a PK component — NULLED on every
    logical row with turn_idx % 3 = 0. Those rows are unreachable by the
    declared PK and must merge via the UK rung of the ladder."""
    feed = change_feed(spark, sf_dir, km_every=None)

    def evolve(name: str):
        img = F.col(name)
        uk = F.concat(
            img.getField("conv_id"), F.lit("#"), img.getField("turn_idx").cast("string")
        )
        img2 = img.withField("uk_id", uk)
        nulled = img2.withField("conv_id", F.lit(None).cast("string"))
        out = F.when(img2.getField("turn_idx") % 3 == 0, nulled).otherwise(img2)
        return F.when(img.isNotNull(), out).alias(name)

    return feed.select(
        "op", evolve("before"), evolve("after"),
        "source_table", "file_seq", "pos", "ts", "txn_id",
    )


def q_uk_identity_replay(spark, sf_dir):
    """Identity-ladder merge (VERDICT r02 #1): replay a feed whose U/D
    rows carry null PK components into a lake declaring
    unique_keys=[['uk_id']] — each row merges on its ladder identity
    (PK if usable, else the UK), the reference's per-row WHERE-identity
    (syncer/dml.go:260-318, whereColumnsAndValues :472-493; the
    downstream_more_column / UK-identity suite shape)."""
    feed = _uk_feed(spark, sf_dir)
    batch = flatten_changes(feed, key=KEY, unique_keys=[["uk_id"]])
    lake = _replay_through_lake(
        spark, batch, sf_dir, schema=SCHEMA + [("uk_id", "string")], unique_keys=[["uk_id"]]
    )
    return lake.read().select(
        "conv_id", "turn_idx", "uk_id", "role", "text", "tool",
        F.unix_micros("ts").alias("ts_us"),
    )


def q_conversation_assembly(spark, sf_dir):
    """Transcript-native composite: replay the change feed into the
    lake (the CDC axis), then assemble per-conversation training units
    from the FINAL table state (the corpus axis) — turn/tool counts,
    whitespace-token totals, and an order-stable conversation
    fingerprint (md5 over turn_idx-ordered texts; turn_idx is the PK's
    second component so the order is total). The reference stops at
    table state (syncer/syncer.go applies and exits); this is the step
    a training pipeline runs next, straight off the ingested lake.

    Scale shape: one hash-agg keyed conv_id over the bucketed lake
    read; collect_list is bounded by conversation length, never by
    corpus size."""
    from dm_spark.functions.text import token_count

    fin = _replayed_fin(spark, sf_dir)
    return fin.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool_turns"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda x: x["text"],
                ),
                "\n",
            )
        ).alias("convo_fp"),
        F.min("ts_us").alias("first_ts_us"),
        F.max("ts_us").alias("last_ts_us"),
    )


def q_tool_usage(spark, sf_dir):
    """Tool-call extraction off the ingested lake: per tool, call and
    conversation counts plus token volume from the final-state tool
    turns — the filter+agg a tool-use training mix starts from."""
    from dm_spark.functions.text import token_count

    fin = _replayed_fin(spark, sf_dir)
    return (
        fin.where(F.col("role") == "tool")
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.count_distinct("conv_id").alias("n_convs"),
            F.sum(token_count(F.col("text"))).alias("n_tokens"),
        )
    )


def sft_examples(fin):
    """SFT example-extraction law over any (conv_id, turn_idx, role,
    text) frame: every assistant turn with at least one prior turn
    becomes one training example whose context is the turn_idx-ordered
    concatenation of ALL prior turns rendered as 'role: text' lines.
    Emits the context as a fingerprint plus token/turn counts — the
    shape a supervised-fine-tuning pair builder materializes straight
    off the ingested lake (the reference stops at table state,
    syncer/syncer.go; this is the next step a trainer runs).

    Scale shape: one exchange keyed conv_id; the three window
    aggregates share one frame spec over the same sort, and the
    context array is bounded by conversation length, never corpus
    size. The collect_list is struct-sorted by turn_idx so the
    fingerprint is order-stable regardless of physical row order."""
    from pyspark.sql import Window

    from dm_spark.functions.text import token_count

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    line = F.concat(F.col("role"), F.lit(": "), F.col("text"))
    ctx_arr = F.collect_list(
        F.struct(F.col("turn_idx").alias("i"), line.alias("line"))
    ).over(w)
    t = fin.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.count(F.lit(1)).over(w).alias("ctx_turns"),
        F.sum(token_count(F.col("text"))).over(w).cast("bigint").alias("ctx_tokens"),
        F.md5(
            F.array_join(F.transform(F.array_sort(ctx_arr), lambda x: x["line"]), "\n")
        ).alias("ctx_fp"),
    )
    return t.where((F.col("role") == "assistant") & (F.col("ctx_turns") >= 1)).select(
        "conv_id",
        "turn_idx",
        "ctx_turns",
        "ctx_tokens",
        "ctx_fp",
        token_count(F.col("text")).cast("bigint").alias("target_tokens"),
    )


def q_sft_examples(spark, sf_dir):
    """SFT example extraction off the ingested lake (see sft_examples):
    replay the change feed (CDC axis), then build one example per
    assistant turn from the FINAL state (corpus axis)."""
    fin = _replayed_fin(spark, sf_dir)
    return sft_examples(fin)


def context_window_stats(fin, budget: int = _CTX_BUDGET):
    """Token-budget suffix-truncation law over any (conv_id, turn_idx,
    text) frame: a trainer keeps the LONGEST SUFFIX of turns whose
    running token total (counted from the newest turn backwards) fits
    the context budget — the standard left-truncation a fixed-window
    model applies to long conversations. Per conversation: total turns,
    kept turns/tokens, and the first surviving turn_idx (null when even
    the newest turn alone exceeds the budget).

    Scale shape: one exchange keyed conv_id — the descending running
    sum and the groupBy reuse the same hash partitioning (same plan
    class as convo_hygiene, pinned by the explain audit)."""
    from pyspark.sql import Window

    from dm_spark.functions.text import token_count

    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = fin.select(
        "conv_id", "turn_idx", token_count(F.col("text")).alias("tok")
    ).withColumn("run", F.sum("tok").over(w))
    kept = F.col("run") <= budget
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(kept.cast("int")).cast("bigint").alias("kept_turns"),
        F.coalesce(F.sum(F.when(kept, F.col("tok"))), F.lit(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.min(F.when(kept, F.col("turn_idx"))).alias("first_kept_idx"),
    )


def q_context_window(spark, sf_dir):
    """Context-window truncation stats off the ingested lake (see
    context_window_stats), budget fixed so the sf fixtures actually
    truncate most conversations while keeping some whole."""
    fin = _replayed_fin(spark, sf_dir)
    return context_window_stats(fin)


def turn_dedup(fin):
    """Cross-conversation repeated-turn scrub over any (conv_id,
    turn_idx, role, text) frame: the transcript-native analog of
    CCNet/C4 boilerplate line removal (functions.dedup.line_dedup) —
    identical (role, text) turns repeated across conversations (shared
    system prompts, canned tool acks, templated greetings) collapse to
    their FIRST occurrence in (conv_id, turn_idx) order. Emits one row
    per distinct turn fingerprint: occurrence count + surviving
    coordinates — the table a scrub step joins back to drop n_occ-1
    redundant turns before training.

    Scale shape: one md5 projection (codegen) then a single map-side
    combinable groupBy on the fingerprint with a min-struct survivor —
    no window over the hot fingerprint key, so a corpus-wide
    million-occurrence boilerplate turn collapses per map task before
    the shuffle (same skew argument as line_dedup)."""
    f = fin.select(
        "conv_id",
        "turn_idx",
        F.md5(F.concat(F.col("role"), F.lit(":"), F.col("text"))).alias("turn_fp"),
    )
    surv = f.groupBy("turn_fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.min(F.struct("conv_id", "turn_idx")).alias("w"),
    )
    return surv.select(
        "turn_fp",
        "n_occ",
        F.col("w.conv_id").alias("keep_conv"),
        F.col("w.turn_idx").alias("keep_turn"),
    )


def q_turn_dedup(spark, sf_dir):
    """Cross-conversation turn dedup off the ingested lake (see
    turn_dedup): replay the change feed (CDC axis), then scrub repeated
    turns from the FINAL state (corpus axis)."""
    fin = _replayed_fin(spark, sf_dir)
    return turn_dedup(fin)


def preference_pairs(split):
    """DPO/RLHF preference-pair mining over the CDC *history* of any
    flattened change stream carrying (conv_id, turn_idx, op, role,
    text, ts, file_seq, pos): every superseded version of an assistant
    turn is a training negative the reference's apply loop simply
    overwrites (syncer/dml.go:104-108 pairs old/new images only to
    build the UPDATE — the old text dies there). Here the LWW winner
    becomes `chosen` and the most recent superseded upsert whose text
    differs becomes `rejected` — one (chosen, rejected) pair per
    revised assistant turn, plus the count of differing superseded
    versions. Keys whose final event is a DELETE emit nothing (the
    turn does not exist in the trained corpus).

    Scale shape: ONE exchange keyed (conv_id, turn_idx) — the window
    computes rank + final-row attributes in a single pass, and the
    follow-up groupBy reuses the same hash partitioning (same
    exchange-reuse class as context_window_stats, pinned by the
    explain audit). No join: the final row's attributes ride every
    history row via first_value over the desc frame."""
    from pyspark.sql import Window

    # ApplyPipeline renames the binlog location to _cdc_file_seq/_cdc_pos
    # on its flattened output; accept either spelling
    fs = "_cdc_file_seq" if "_cdc_file_seq" in split.columns else "file_seq"
    ps = "_cdc_pos" if "_cdc_pos" in split.columns else "pos"
    w = (
        Window.partitionBy("conv_id", "turn_idx")
        .orderBy(F.col("ts").desc(), F.col(fs).desc(), F.col(ps).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = split.select(
        "conv_id",
        "turn_idx",
        "op",
        "text",
        F.row_number().over(w).alias("rn"),
        F.first("text").over(w).alias("chosen"),
        F.first("op").over(w).alias("fin_op"),
        F.first("role").over(w).alias("fin_role"),
    )
    cand = t.where(
        (F.col("fin_op") != "D")
        & (F.col("fin_role") == "assistant")
        & (F.col("rn") > 1)
        & (F.col("op") != "D")
        & (F.col("text") != F.col("chosen"))
    )
    return cand.groupBy("conv_id", "turn_idx").agg(
        F.max("chosen").alias("chosen"),  # constant per key
        F.min_by("text", "rn").alias("rejected"),
        F.count(F.lit(1)).cast("bigint").alias("n_superseded"),
    )


def q_preference_pairs(spark, sf_dir):
    """Preference pairs mined from the change history (see
    preference_pairs): route + flatten the feed exactly as replay
    does, then harvest the superseded assistant-turn versions the
    LWW merge would discard."""
    batch = _routed_batch(spark, sf_dir)
    return preference_pairs(batch)


def q_preference_incremental(spark, sf_dir):
    """Incremental preference-pair maintenance (see
    functions.incremental.incremental_preference_batch): the change
    feed is folded into the compact (u1, u2, d) state table batch by
    batch — O(batch) per step, no history rescan — and the materialized
    pairs must equal the global preference_pairs law over the full
    stream (the DuckDB oracle runs the global single-window twin).
    The arrival-order/redelivery laws are pinned in
    tests/test_incremental_dedup.py."""
    from dm_spark.functions.incremental import (
        create_pref_index,
        incremental_preference_batch,
        preference_pairs_from_index,
    )

    index = create_pref_index(
        spark, tempfile.mkdtemp(prefix="dm_pref_"), n_buckets=_fixture_buckets(sf_dir)
    )
    for part in _feed_ranges(_routed_batch(spark, sf_dir), sf_dir):
        incremental_preference_batch(index, part)
    return preference_pairs_from_index(index)


def prefix_templates(fin):
    """Shared conversation-prefix (template/boilerplate) detection over
    any (conv_id, turn_idx, role, text) frame: render each turn as a
    volatile-token-masked line (`role: text` with digit runs collapsed
    to '0' — the canonicalization step production boilerplate
    detection applies before fingerprinting, same family as
    functions.text.normalized_text), fingerprint every conversation
    PREFIX cumulatively, and report, per conversation that shares a
    prefix with at least one other, the DEEPEST shared depth, that
    template's fingerprint, and how many conversations share it — the
    table a scrub step uses to strip injected system prompts /
    few-shot preambles before training.

    Scale shape: one conv_id exchange for the cumulative window (the
    prefix array is bounded by conversation length, never corpus
    size), one map-side-combinable groupBy on (depth, prefix_fp), and
    one equi-join back on the same (depth, prefix_fp) key — no
    cross-conversation pairwise comparison anywhere; a corpus-wide
    million-conversation template is ONE group row per depth."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL role/text render as '' (concat would NULL the whole line in
    # Spark while DuckDB's string_agg would DROP the group — the
    # coalesce keeps both engines on one law; review r5)
    line = F.concat(
        F.coalesce(F.col("role"), F.lit("")),
        F.lit(": "),
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), "[0-9]+", "0"),
    )
    arr = F.collect_list(F.struct(F.col("turn_idx").alias("i"), line.alias("line"))).over(w)
    pfx = fin.select(
        "conv_id",
        F.row_number().over(w).cast("bigint").alias("d"),
        F.md5(
            F.array_join(F.transform(F.array_sort(arr), lambda x: x["line"]), "\n")
        ).alias("pfx_fp"),
    )
    g = pfx.groupBy("d", "pfx_fp").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = pfx.join(g.where(F.col("n") >= 2), ["d", "pfx_fp"])
    return j.groupBy("conv_id").agg(
        F.max("d").alias("shared_depth"),
        F.max_by("pfx_fp", "d").alias("template_fp"),
        F.max_by("n", "d").alias("n_sharers"),
    )


def q_prefix_templates(spark, sf_dir):
    """Shared-prefix template detection off the ingested lake (see
    prefix_templates): replay the change feed (CDC axis), then detect
    masked-prefix templates in the FINAL state (corpus axis). The
    synthetic texts are '<event_type> #<id>' so digit masking makes
    role+event-type prefixes genuinely collide across conversations."""
    fin = _replayed_fin(spark, sf_dir)
    return prefix_templates(fin)


def tool_transitions(fin):
    """Agent-trajectory transition mining over any (conv_id, turn_idx,
    role, tool) frame: the first-order Markov table of tool usage —
    for each conversation, order its tool turns by turn_idx and count
    (previous tool -> tool) transitions corpus-wide, with '<start>'
    marking a conversation's first tool call. Emits transition count
    plus the number of distinct conversations exhibiting it — the
    table an agent-behavior analysis (or a trajectory sampler looking
    for rare tool chains) reads straight off the ingested lake.
    (Reference analog: DM stops at row replication, syncer/syncer.go;
    this is the downstream analytics the rebuild adds.)

    Scale shape: one conv_id exchange for the lag window (tool turns
    only — pre-filtered before the shuffle), then a map-side
    combinable groupBy on the (from, to) pair; transition cardinality
    is bounded by #tools^2, never corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        fin.where(F.col("role") == "tool")
        .select("conv_id", "turn_idx", "tool")
        .withColumn("prev_tool", F.lag("tool").over(w))
    )
    return (
        t.select(
            "conv_id",
            F.coalesce("prev_tool", F.lit("<start>")).alias("from_tool"),
            F.col("tool").alias("to_tool"),
        )
        .groupBy("from_tool", "to_tool")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        )
    )


def q_tool_transitions(spark, sf_dir):
    """Tool-transition mining off the ingested lake (see
    tool_transitions): replay the change feed (CDC axis), then mine
    the trajectory table from the FINAL state (corpus axis)."""
    fin = _replayed_fin(spark, sf_dir)
    return tool_transitions(fin)


def best_of_history(split):
    """Rejection-sampling (best-of-history) mining over the CDC history
    of any flattened change stream carrying (conv_id, turn_idx, op,
    role, text, ts, file_seq, pos): every historical version of an
    assistant turn is a candidate completion, and the reward keeps the
    one with the most DISTINCT whitespace tokens — a repetition-
    penalized informativeness score (the argmax twin of
    functions.text.repetition_signals). The reference's apply loop
    keeps only the newest version (syncer/dml.go:104-108); a best-of-n
    data miner wants the BEST version, which may be an earlier draft a
    later edit made worse. Ties break toward the NEWEST version
    (ts, file_seq, pos) so equal merit never resurrects a stale draft.
    Keys whose final event is a DELETE or whose final role is not
    assistant emit nothing (the turn is not in the trained corpus).
    Emits candidate count, winning score, the winner's fingerprint,
    and best_is_lww — 0 exactly on the keys where best-of-history
    beats plain LWW replay.

    Scale shape: ONE exchange keyed (conv_id, turn_idx) — the ts-desc
    window (final-row attributes), the score-desc row_number, and the
    per-key count all reuse the same hash partitioning (same
    single-exchange class as preference_pairs, pinned by the explain
    audit)."""
    from pyspark.sql import Window

    from dm_spark.functions.text import distinct_token_count

    fs = "_cdc_file_seq" if "_cdc_file_seq" in split.columns else "file_seq"
    ps = "_cdc_pos" if "_cdc_pos" in split.columns else "pos"
    w_ts = (
        Window.partitionBy("conv_id", "turn_idx")
        .orderBy(F.col("ts").desc(), F.col(fs).desc(), F.col(ps).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the ONE reward law, shared with the incremental fold (_bo_score)
    score = distinct_token_count(F.col("text"))
    t = split.select(
        "conv_id",
        "turn_idx",
        "op",
        "text",
        "ts",
        F.col(fs).alias("fs"),
        F.col(ps).alias("ps"),
        score.alias("score"),
        F.first("text").over(w_ts).alias("fin_text"),
        F.first("op").over(w_ts).alias("fin_op"),
        F.first("role").over(w_ts).alias("fin_role"),
    )
    cand = t.where(
        (F.col("fin_op") != "D")
        & (F.col("fin_role") == "assistant")
        & (F.col("op") != "D")
    )
    w_sc = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("score").desc(), F.col("ts").desc(), F.col("fs").desc(), F.col("ps").desc()
    )
    w_n = Window.partitionBy("conv_id", "turn_idx")
    best = cand.select(
        "conv_id",
        "turn_idx",
        "score",
        "text",
        "fin_text",
        F.row_number().over(w_sc).alias("brn"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n_versions"),
    ).where(F.col("brn") == 1)
    return best.select(
        "conv_id",
        "turn_idx",
        "n_versions",
        F.col("score").alias("best_score"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("best_fp"),
        (
            F.coalesce(F.col("text"), F.lit(""))
            == F.coalesce(F.col("fin_text"), F.lit(""))
        )
        .cast("int")
        .alias("best_is_lww"),
    )


def q_best_of_history(spark, sf_dir):
    """Best-of-history selection mined from the change history (see
    best_of_history): route + flatten the feed exactly as replay does,
    then pick the reward-best version of every surviving assistant
    turn across all its CDC versions."""
    return best_of_history(_routed_batch(spark, sf_dir))


def q_best_of_incremental(spark, sf_dir):
    """Incremental best-of-history maintenance (see
    functions.incremental.incremental_best_of_batch): the change feed
    is folded into the compact (argmax, latest-event) state table
    batch by batch — O(batch) per step, no history rescan — and the
    materialized selections must equal the global best_of_history law
    over the full stream (the DuckDB oracle runs the global window
    twin minus the history-dependent n_versions count). The
    arrival-order/redelivery laws are pinned in
    tests/test_incremental_dedup.py."""
    from dm_spark.functions.incremental import (
        best_of_from_index,
        create_best_index,
        incremental_best_of_batch,
    )

    index = create_best_index(
        spark, tempfile.mkdtemp(prefix="dm_best_"), n_buckets=_fixture_buckets(sf_dir)
    )
    for part in _feed_ranges(_routed_batch(spark, sf_dir), sf_dir):
        incremental_best_of_batch(index, part)
    return best_of_from_index(index)


def sft_loss_masks(fin):
    """Token-offset loss-mask spans over any (conv_id, turn_idx, role,
    text) frame: render each turn as its packed 'role: text' line and
    emit the half-open token span [start_tok, end_tok) the turn
    occupies in the turn_idx-ordered concatenation, plus loss_mask=1
    on assistant turns — exactly the span table an SFT trainer uses to
    mask context tokens out of the loss while training on assistant
    tokens (the geometry companion to sft_examples, which emits the
    pair contents).

    Scale shape: one exchange keyed conv_id — a single running-sum
    window over the same sort the other per-conversation composites
    use; spans are derived arithmetic, no second shuffle."""
    from pyspark.sql import Window

    from dm_spark.functions.text import token_count

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tok = token_count(F.concat(F.col("role"), F.lit(": "), F.col("text"))).cast("bigint")
    t = fin.select(
        "conv_id",
        "turn_idx",
        "role",
        tok.alias("tok"),
        F.coalesce(F.sum(tok).over(w), F.lit(0)).cast("bigint").alias("start_tok"),
    )
    return t.select(
        "conv_id",
        "turn_idx",
        "start_tok",
        (F.col("start_tok") + F.col("tok")).cast("bigint").alias("end_tok"),
        (F.col("role") == "assistant").cast("int").alias("loss_mask"),
    )


def q_sft_loss_masks(spark, sf_dir):
    """Loss-mask span extraction off the ingested lake (see
    sft_loss_masks): replay the change feed (CDC axis), then emit the
    packed-token geometry from the FINAL state (corpus axis)."""
    fin = _replayed_fin(spark, sf_dir)
    return sft_loss_masks(fin)


def conv_dedup(fin):
    """Conversation-level exact dedup over the digit-masked canonical
    form of any (conv_id, turn_idx, text) frame: conversations whose
    turn_idx-ordered texts are identical once digit runs are masked
    (ids, counters, timestamps — the same normalization
    prefix_templates applies) collapse to the min-conv_id survivor.
    Emits one row per distinct masked conversation: duplicate count,
    survivor id, survivor turn count — the transcript-granularity twin
    of functions.dedup.exact_dedup, and the whole-conversation
    complement of turn_dedup (which scrubs single repeated turns).

    Scale shape: one conv_id exchange to assemble the masked
    fingerprint (collect_list bounded by conversation length, never
    corpus size), then a map-side combinable groupBy on the
    fingerprint — no window over the hot fp key, so a corpus-wide
    template conversation collapses per map task before the
    shuffle."""
    masked = F.regexp_replace(F.col("text"), "[0-9]+", "0")
    pc = fin.groupBy("conv_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("turn_idx"), masked.alias("m")))
                    ),
                    lambda x: x["m"],
                ),
                "\n",
                # NULL-text turns contribute a NUL sentinel instead of
                # silently vanishing: array_join would skip them while
                # the DuckDB twin's string_agg over an all-NULL conv
                # returns NULL (md5(NULL)=NULL) — divergent fps for
                # NULL-bearing conversations (review r5). The twin
                # coalesces to chr(0) so both sides see the sentinel.
                "\x00",
            )
        ).alias("conv_fp"),
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
    )
    return pc.groupBy("conv_fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_convs"),
        F.min("conv_id").alias("keep_conv"),
        F.min_by("n_turns", "conv_id").alias("n_turns"),
    )


def q_conv_dedup(spark, sf_dir):
    """Conversation-level masked exact dedup off the ingested lake
    (see conv_dedup): replay the change feed (CDC axis), then collapse
    template-identical conversations from the FINAL state (corpus
    axis)."""
    fin = _replayed_fin(spark, sf_dir)
    return conv_dedup(fin)


def q_validator_checksum(spark, sf_dir):
    """sync_diff checksum law end-to-end (tests/sharding/run.sh:9-18
    BIT_XOR(CRC32) analog): replay the feed into the lake, then reduce
    the final table to 256 order-insensitive bucket digests — count +
    sorted md5 prefixes. The DuckDB oracle computes the SAME digests
    from its own replay, proving replicated-state equality the way the
    reference's integration suites do, but cross-engine."""
    from dm_spark.validator import checksum_digests

    batch = _routed_batch(spark, sf_dir)
    lake = _replay_through_lake(spark, batch, sf_dir)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us"]
    return checksum_digests(_final_us(lake), cols)


def q_lineage_counts(spark, sf_dir):
    return (
        change_feed(spark, sf_dir)
        .groupBy("source_table", "op")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_checkpoint_locations(spark, sf_dir):
    agg = (
        change_feed(spark, sf_dir)
        .groupBy("source_table")
        .agg(F.max(F.struct("file_seq", "pos")).alias("loc"))
    )
    return agg.select("source_table", "loc.file_seq", "loc.pos")


def _pre_ddl_lake(spark, sf_dir):
    """The mid-feed DDL fixtures' first half: a lake holding the routed
    feed through the middle txn (batch 0), the pipeline, and the raw
    feed after that txn for the post-DDL merges."""
    pre, post = location_ranges(change_feed(spark, sf_dir), [_txn_cut(spark, sf_dir, 1, 2)])
    pipe = ApplyPipeline(TaskConfig(routes=list(_ROUTES)))
    lake = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="dm_ddl_"), SCHEMA, KEY,
        n_buckets=_fixture_buckets(sf_dir)
    )
    lake.merge_into(pipe.transform(pre).drop("target_table"), batch_id=0)
    return pipe, lake, post


def q_ddl_evolution(spark, sf_dir):
    """Mid-feed schema evolution: add rating, rename tool->tool_name,
    widen turn_idx to bigint (optimistic shard-DDL semantics:
    pkg/shardddl/optimism/lock.go:115 schema join -> table-global ALTER)."""
    pipe, lake, post = _pre_ddl_lake(spark, sf_dir)

    for i, act in enumerate(
        [
            {"action": "add_column", "column": "rating", "new_type": "int"},
            {"action": "rename_column", "column": "tool", "new_name": "tool_name"},
            {"action": "widen_type", "column": "turn_idx", "new_type": "bigint"},
        ]
    ):
        lake.apply_ddl({**act, "file_seq": 10**6 + i, "pos": 0})

    b = pipe.transform(post).drop("target_table")
    b = b.select(
        "conv_id",
        F.col("turn_idx").cast("bigint").alias("turn_idx"),
        "role",
        "text",
        F.col("tool").alias("tool_name"),
        "ts",
        (F.col("_cdc_pos") % 5).cast("int").alias("rating"),
        "op",
        "_cdc_ts",
        "_cdc_file_seq",
        "_cdc_pos",
    )
    lake.merge_into(b, batch_id=1)
    return lake.read().select(
        "conv_id", "turn_idx", "role", "text", "tool_name", "rating",
        F.unix_micros("ts").alias("ts_us"),
    )


def q_ddl_default_backfill(spark, sf_dir):
    """ADD COLUMN ... DEFAULT mid-feed: MySQL/TiDB give EXISTING rows
    the declared literal default — the reference inherits that by
    executing the DDL on live TiDB (syncer/syncer.go:1117-1232); the
    lake mirrors it by filling pre-DDL files at read time
    (lake.table._Shape.projection), with no data rewrite. The DDL arrives as
    SQL text through the real parser (ddl_parser._default_literal).
    Law: a key's final rating is 7 iff its LWW-winning event precedes
    the DDL, else the event's explicit pos % 5."""
    from dm_spark.schema.ddl_parser import parse_ddl

    pipe, lake, post = _pre_ddl_lake(spark, sf_dir)

    (ev,) = parse_ddl(
        "ALTER TABLE transcripts ADD COLUMN rating INT DEFAULT 7", 10**6, 0
    )
    assert ev.default == 7
    lake.apply_ddl(ev.to_action())

    b = pipe.transform(post).drop("target_table")
    b = b.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        (F.col("_cdc_pos") % 5).cast("int").alias("rating"),
        "op", "_cdc_ts", "_cdc_file_seq", "_cdc_pos",
    )
    lake.merge_into(b, batch_id=1)
    return lake.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "rating",
        F.unix_micros("ts").alias("ts_us"),
    )


def q_optimistic_ddl(spark, sf_dir):
    """Optimistic shard-DDL end-to-end: shard_0 announces add_column
    mid-feed; the runner joins all shards' tracked schemas and applies
    the DERIVED table-global ALTER (pkg/shardddl/optimism/lock.go:115
    TrySync, syncer/optimist.go:31-160) with no barrier. Shards 1-3 keep
    writing the old shape — merge tolerance null-fills — and shard_0's
    post-DDL rows carry rating = pos % 5."""
    from dm_spark.plans import DdlEvent, ReplayRunner

    pipe, lake, post = _pre_ddl_lake(spark, sf_dir)
    runner = ReplayRunner(
        pipeline=pipe,
        lake=lake,
        optimistic_group=[
            f"shard_{i}.transcripts_{j}" for i in range(4) for j in range(2)
        ],
    )
    runner.handle_ddl(
        DdlEvent(
            "add_column", "shard_0.transcripts_0", 10**6, 0,
            column="rating", new_type="int",
        )
    )
    # shard_0 adopted the new column; the other shards lag (old shape).
    # Keys are shard-local (conv_id derives from user_id derives shard),
    # so splitting the merge by shard cannot reorder any key's events.
    b0 = pipe.transform(post.where(F.col("source_table").like("shard_0.%"))).drop("target_table")
    lake.merge_into(b0.withColumn("rating", (F.col("_cdc_pos") % 5).cast("int")), batch_id=1)
    b1 = pipe.transform(post.where(~F.col("source_table").like("shard_0.%"))).drop("target_table")
    lake.merge_into(b1, batch_id=2)
    return lake.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "rating",
        F.unix_micros("ts").alias("ts_us"),
    )


def q_ddl_filtered(spark, sf_dir):
    """DDL-class binlog filter during replay (syncer/filter.go:30-120):
    the drop_column(role) is ignored by rule, so `role` survives; the
    add_column(rating) passes (null-filled — sources never emitted it)."""
    from dm_spark.config import DdlFilterRule
    from dm_spark.plans import DdlEvent, ReplayRunner

    cfg = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")],
        ddl_filters=[
            DdlFilterRule(pattern="shard_*.transcripts_*", ignore_kinds=["drop_column"])
        ],
    )
    pipe = ApplyPipeline(cfg)
    lake = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="dm_df_"), SCHEMA, KEY,
        n_buckets=_fixture_buckets(sf_dir)
    )
    runner = ReplayRunner(pipeline=pipe, lake=lake)
    ddls = [
        DdlEvent("drop_column", "shard_1.transcripts_0", 10**6, 0, column="role"),
        DdlEvent(
            "add_column", "shard_1.transcripts_0", 10**6, 1,
            column="rating", new_type="int",
        ),
    ]
    runner.replay(change_feed(spark, sf_dir), ddls)
    return lake.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "rating",
        F.unix_micros("ts").alias("ts_us"),
    )


QUERIES = {
    "cdc_feed_decode": q_feed_decode,
    "cdc_wire_decode": q_wire_decode,
    "cdc_wire_decode_jvm": q_wire_decode_jvm,
    "cdc_generated_prune": q_generated_prune,
    "cdc_ba_list_filter": q_ba_list_filter,
    "cdc_event_type_filter": q_event_type_filter,
    "cdc_expr_filter": q_expr_filter,
    "cdc_table_router": q_table_router,
    "cdc_column_mapping": q_column_mapping,
    "cdc_dedup_lww": q_dedup_lww,
    "cdc_dedup_lww_salted": q_dedup_lww_salted,
    "cdc_replay_merge": q_replay_merge,
    "cdc_replay_scrubbed": q_replay_scrubbed,
    "cdc_change_feed_chain": q_change_feed_chain,
    "cdc_change_feed_chain_mor": q_change_feed_chain_mor,
    "cdc_replay_merge_salted": q_replay_merge_salted,
    "cdc_replay_merge_mor": q_replay_merge_mor,
    "cdc_replay_filtered": q_replay_filtered,
    "cdc_shard_merge_mapped": q_shard_merge_mapped,
    "cdc_safe_mode_replay": q_safe_mode_replay,
    "cdc_key_change_replay": q_key_change_replay,
    "cdc_uk_identity_replay": q_uk_identity_replay,
    "cdc_conversation_assembly": q_conversation_assembly,
    "cdc_tool_usage": q_tool_usage,
    "cdc_convo_hygiene": q_convo_hygiene,
    "cdc_sft_examples": q_sft_examples,
    "cdc_context_window": q_context_window,
    "cdc_turn_dedup": q_turn_dedup,
    "cdc_preference_pairs": q_preference_pairs,
    "cdc_preference_incremental": q_preference_incremental,
    "cdc_prefix_templates": q_prefix_templates,
    "cdc_tool_transitions": q_tool_transitions,
    "cdc_best_of_history": q_best_of_history,
    "cdc_best_of_incremental": q_best_of_incremental,
    "cdc_sft_loss_masks": q_sft_loss_masks,
    "cdc_conv_dedup": q_conv_dedup,
    "cdc_validator_checksum": q_validator_checksum,
    "cdc_lineage_counts": q_lineage_counts,
    "cdc_checkpoint_locations": q_checkpoint_locations,
    "cdc_ddl_evolution": q_ddl_evolution,
    "cdc_ddl_default_backfill": q_ddl_default_backfill,
    "cdc_optimistic_ddl": q_optimistic_ddl,
    "cdc_ddl_filtered": q_ddl_filtered,
}


def _with_feed(body: str, feed_where: str = "TRUE", feed: str = FEED_SQL) -> str:
    return f"WITH feed AS (SELECT * FROM ({feed}) WHERE {feed_where}), {body}"


# ILIKE, not LIKE: the engine's pattern surfaces match
# case-insensitively by default (source_config.go:94), so the oracle
# twins must encode the same semantics — the corpus is lowercase today,
# but a mixed-case fixture must diverge NEITHER side or BOTH
_FILTER_MATRIX_WHERE = """
  source_table NOT ILIKE 'shard_3.%'
  AND NOT (op = 'D' AND source_table ILIKE '%.transcripts_1')
  AND NOT (op = 'I' AND role = 'tool' AND tool = 'tool_0')
"""

ORACLES = {
    "cdc_feed_decode": f"WITH feed AS ({FEED_SQL}) {_ORACLE_FLAT}",
    "cdc_wire_decode": f"WITH feed AS ({FEED_SQL}) {_ORACLE_FLAT}",
    "cdc_wire_decode_jvm": f"WITH feed AS ({FEED_SQL}) {_ORACLE_FLAT}",
    "cdc_generated_prune": (
        f"WITH feed AS ({FEED_SQL}), "
        "m AS (SELECT op, conv_id, turn_idx, role, text, file_seq, pos FROM feed "
        "UNION ALL SELECT 'D' AS op, conv_id, before_turn_idx AS turn_idx, role, text, "
        "file_seq, pos FROM feed WHERE key_moved) "
        "SELECT op, conv_id, turn_idx, role, text, file_seq, pos FROM m"
    ),
    "cdc_ba_list_filter": (
        f"WITH feed AS ({FEED_SQL}) {_ORACLE_FLAT} WHERE source_table NOT ILIKE 'shard_3.%'"
    ),
    "cdc_event_type_filter": (
        f"WITH feed AS ({FEED_SQL}) {_ORACLE_FLAT} "
        "WHERE NOT (op = 'D' AND source_table ILIKE '%.transcripts_1')"
    ),
    "cdc_expr_filter": (
        f"WITH feed AS ({FEED_SQL}) {_ORACLE_FLAT} "
        # skip-only-when-TRUE (NULL keeps the row), matching the engine
        "WHERE (op = 'I' AND role = 'tool' AND tool = 'tool_0') IS NOT TRUE "
        "AND (op = 'D' AND turn_idx < 5) IS NOT TRUE"
    ),
    "cdc_table_router": (
        f"WITH feed AS ({FEED_SQL}) "
        "SELECT source_table, "
        "CASE WHEN source_table ILIKE 'shard_3.%' THEN 'quarantine' "
        "WHEN source_table ILIKE 'shard_%.transcripts_%' THEN 'transcripts' "
        "ELSE source_table END AS target_table, count(*) AS n "
        "FROM feed GROUP BY 1, 2"
    ),
    "cdc_column_mapping": (
        f"WITH feed0 AS ({FEED_SQL}), "
        "feed AS (SELECT * REPLACE (regexp_extract(source_table, '^shard_([0-9]+)\\.', 1) "
        "|| '_' || conv_id AS conv_id) FROM feed0), "
        "m AS (SELECT op, conv_id, turn_idx, file_seq, pos FROM feed "
        "UNION ALL SELECT 'D' AS op, conv_id, before_turn_idx AS turn_idx, file_seq, pos "
        "FROM feed WHERE key_moved) "
        "SELECT op, conv_id, turn_idx, file_seq, pos FROM m"
    ),
    "cdc_dedup_lww": _with_feed(
        """latest AS (
             SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
               ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn FROM feed)
           SELECT conv_id, turn_idx, op, text, epoch_us(ts) AS ts_us
           FROM latest WHERE rn = 1"""
    ),
    "cdc_dedup_lww_salted": _with_feed(
        """latest AS (
             SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
               ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn FROM feed)
           SELECT conv_id, turn_idx, op, text, epoch_us(ts) AS ts_us
           FROM latest WHERE rn = 1"""
    ),
    "cdc_replay_merge": _with_feed(_REPLAY),
    "cdc_replay_scrubbed": _with_feed(
        _FINAL_CTE
        + f"""
SELECT conv_id, turn_idx, role,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PII_IP_RE}', '<IP>', 'g'),
           '{_PII_PHONE_RE}', '<PHONE>', 'g'),
           '#[0-9]+', '<ID>', 'g') AS text,
       tool, ts_us
FROM fin
"""
    ),
    "cdc_change_feed_chain": _with_feed(_REPLAY),
    "cdc_change_feed_chain_mor": _with_feed(_REPLAY),
    "cdc_replay_merge_salted": _with_feed(_REPLAY),
    "cdc_replay_merge_mor": _with_feed(_REPLAY),
    "cdc_replay_filtered": _with_feed(_REPLAY, _FILTER_MATRIX_WHERE),
    "cdc_shard_merge_mapped": (
        f"WITH feed0 AS ({FEED_SQL}), "
        "feed AS (SELECT * REPLACE (regexp_extract(source_table, '^shard_([0-9]+)\\.', 1) "
        "|| '_' || conv_id AS conv_id) FROM feed0), "
        + _REPLAY
    ),
    "cdc_safe_mode_replay": _with_feed(_REPLAY),
    "cdc_key_change_replay": _with_feed(_REPLAY, feed=feed_sql(km_every=1)),
    # ladder identity: PK rung when conv_id (the nullable PK component)
    # is present, else the UK rung on uk_id — expressed as a COALESCE
    # over the rung key renderings ('pk|...' is NULL iff conv_id is)
    "cdc_uk_identity_replay": _with_feed(
        """aug AS (
          SELECT op,
                 CASE WHEN turn_idx % 3 = 0 THEN NULL ELSE conv_id END AS conv_id,
                 turn_idx,
                 conv_id || '#' || CAST(turn_idx AS VARCHAR) AS uk_id,
                 role, text, tool, ts, file_seq, pos
          FROM feed),
        latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY coalesce(
              'pk|' || conv_id || '|' || CAST(turn_idx AS VARCHAR),
              'uk|' || uk_id)
            ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn
          FROM aug)
        SELECT conv_id, turn_idx, uk_id, role, text, tool, epoch_us(ts) AS ts_us
        FROM latest WHERE rn = 1 AND op <> 'D'""",
        feed=feed_sql(km_every=None),
    ),
    "cdc_lineage_counts": (
        f"WITH feed AS ({FEED_SQL}) "
        "SELECT source_table, op, count(*) AS n FROM feed GROUP BY 1, 2"
    ),
    "cdc_conversation_assembly": _with_feed(_ASSEMBLY),
    "cdc_tool_usage": _with_feed(_TOOL_USAGE),
    "cdc_sft_examples": _with_feed(_SFT),
    "cdc_context_window": _with_feed(_CTX_WINDOW),
    "cdc_turn_dedup": _with_feed(_TURN_DEDUP),
    "cdc_preference_pairs": _with_feed(_PREF_PAIRS),
    # incremental maintenance must equal the global law (minus the
    # history-dependent n_superseded count)
    "cdc_preference_incremental": _with_feed(
        _PREF_PAIRS.replace(
            "max(chosen) AS chosen,\n       min_by(text, rn) AS rejected,\n"
            "       CAST(count(*) AS BIGINT) AS n_superseded",
            "max(chosen) AS chosen, min_by(text, rn) AS rejected",
        )
    ),
    "cdc_prefix_templates": _with_feed(_PREFIX_TPL),
    "cdc_tool_transitions": _with_feed(_TOOL_TRANS),
    "cdc_best_of_history": _with_feed(_BEST_OF),
    # incremental maintenance must equal the global law (minus the
    # history-dependent, non-redelivery-idempotent n_versions count)
    "cdc_best_of_incremental": _with_feed(
        _BEST_OF.replace(
            "SELECT conv_id, turn_idx, n_versions, score AS best_score,",
            "SELECT conv_id, turn_idx, score AS best_score,",
        )
    ),
    "cdc_sft_loss_masks": _with_feed(_LOSS_MASKS),
    "cdc_conv_dedup": _with_feed(_CONV_DEDUP),
    "cdc_convo_hygiene": _with_feed(
        _FINAL_CTE
        + """,
t AS (
  SELECT conv_id, turn_idx, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM fin),
agg AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         bool_or(rn = 1 AND role = 'user') AS starts_with_user,
         CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT)
           AS n_role_repeats,
         CAST(sum(CASE WHEN role = 'tool'
                        AND coalesce(prev_role, '') <> 'assistant'
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_tools
  FROM t GROUP BY conv_id)
SELECT conv_id, n_turns, starts_with_user, n_role_repeats, n_orphan_tools,
       starts_with_user AND n_role_repeats = 0 AND n_orphan_tools = 0 AS valid
FROM agg
"""
    ),
    "cdc_validator_checksum": _with_feed(
        _SPLIT
        + """,
        latest AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
            ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn FROM split),
        final AS (
          SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
          FROM latest WHERE rn = 1 AND op <> 'D'),
        hashed AS (
          SELECT md5(concat_ws(chr(31),
                   coalesce(CAST(conv_id AS VARCHAR), chr(0)),
                   coalesce(CAST(turn_idx AS VARCHAR), chr(0)),
                   coalesce(CAST(role AS VARCHAR), chr(0)),
                   coalesce(CAST(text AS VARCHAR), chr(0)),
                   coalesce(CAST(tool AS VARCHAR), chr(0)),
                   coalesce(CAST(ts_us AS VARCHAR), chr(0)))) AS hh
          FROM final)
        SELECT substr(hh, 1, 2) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               string_agg(substr(hh, 1, 16), ',' ORDER BY substr(hh, 1, 16)) AS digest
        FROM hashed GROUP BY 1"""
    ),
    "cdc_checkpoint_locations": (
        f"WITH feed AS ({FEED_SQL}), r AS ("
        "SELECT source_table, file_seq, pos, row_number() OVER ("
        "PARTITION BY source_table ORDER BY file_seq DESC, pos DESC) AS rn FROM feed) "
        "SELECT source_table, file_seq, pos FROM r WHERE rn = 1"
    ),
    "cdc_optimistic_ddl": _with_feed(
        "mid AS (SELECT (min(txn_id) + max(txn_id)) // 2 AS m FROM feed),"
        + """
        split AS (
          SELECT op, conv_id, turn_idx, role, text, tool, ts, file_seq, pos,
                 txn_id, source_table FROM feed
          UNION ALL
          SELECT 'D' AS op, conv_id, before_turn_idx AS turn_idx, role, text,
                 tool, ts, file_seq, pos, txn_id, source_table
          FROM feed WHERE key_moved),
        feed2 AS (
          SELECT conv_id, turn_idx, role, text, tool,
                 CASE WHEN txn_id > (SELECT m FROM mid)
                      AND source_table LIKE 'shard_0.%'
                      THEN CAST(pos % 5 AS INTEGER) END AS rating,
                 ts, file_seq, pos, op
          FROM split),
        latest AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
            ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn FROM feed2)
        SELECT conv_id, turn_idx, role, text, tool, rating,
               epoch_us(ts) AS ts_us
        FROM latest WHERE rn = 1 AND op <> 'D'"""
    ),
    "cdc_ddl_filtered": _with_feed(
        _SPLIT
        + """,
        latest AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
            ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn FROM split)
        SELECT conv_id, turn_idx, role, text, tool,
               CAST(NULL AS INTEGER) AS rating, epoch_us(ts) AS ts_us
        FROM latest WHERE rn = 1 AND op <> 'D'"""
    ),
    "cdc_ddl_evolution": _with_feed(
        "mid AS (SELECT (min(txn_id) + max(txn_id)) // 2 AS m FROM feed),"
        + _SPLIT
        + """,
           feed2 AS (
             SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text,
                    tool AS tool_name,
                    CASE WHEN txn_id > (SELECT m FROM mid)
                         THEN CAST(pos % 5 AS INTEGER) END AS rating,
                    ts, file_seq, pos, op
             FROM split),
           latest AS (
             SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
               ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn FROM feed2)
           SELECT conv_id, turn_idx, role, text, tool_name, rating,
                  epoch_us(ts) AS ts_us
           FROM latest WHERE rn = 1 AND op <> 'D'"""
    ),
    # default backfill: rating = declared DEFAULT (7) when the key's
    # LWW-winning event precedes the DDL, else the explicit pos % 5
    "cdc_ddl_default_backfill": _with_feed(
        "mid AS (SELECT (min(txn_id) + max(txn_id)) // 2 AS m FROM feed),"
        + _SPLIT
        + """,
           feed2 AS (
             SELECT conv_id, turn_idx, role, text, tool,
                    CASE WHEN txn_id > (SELECT m FROM mid)
                         THEN CAST(pos % 5 AS INTEGER)
                         ELSE 7 END AS rating,
                    ts, file_seq, pos, op
             FROM split),
           latest AS (
             SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
               ORDER BY ts DESC, file_seq DESC, pos DESC) AS rn FROM feed2)
           SELECT conv_id, turn_idx, role, text, tool, rating,
                  epoch_us(ts) AS ts_us
           FROM latest WHERE rn = 1 AND op <> 'D'"""
    ),
}
