"""Multi-source apply into one downstream table.

The reference runs ONE subtask per upstream source, all landing in the
same downstream (dm/worker/subtask.go — a task config lists many
source-ids; tests/shardddl* merge shards ACROSS sources). Here each
source is its own task instance — its own feed, pipeline and LakeTable
handle — over ONE lake path: the mode-'x' manifest claim serializes
versions across writers, ts-first LWW makes cross-source ordering
deterministic, and the single-slot batch-id gate resetting on a stream
change is harmless by design (LWW covers cross-stream redelivery —
CLAUDE.md). These tests pin that contract:

  * interleaved two-source apply == single-task replay of the union feed
  * a full cross-stream redelivery after the other source's writes does
    not regress the state
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from dm_spark.config import RouteRule, TaskConfig
from dm_spark.feed import change_feed
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline

SCHEMA = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
]
KEY = ["conv_id", "turn_idx"]
SF = "/root/testdata/sf0.001"


def _batches(spark):
    """The sf0.001 feed split into two 'upstream sources' by shard
    ordinal (shards 0-1 = source A, the rest = source B), each
    transformed by its own task pipeline, exactly as two independent
    driver processes would."""
    cfg = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")]
    )
    feed = change_feed(spark, SF)
    is_a = F.col("source_table").rlike(r"^shard_[01]\.")
    out = []
    for part in (feed.where(is_a), feed.where(~is_a)):
        out.append(
            ApplyPipeline(cfg).transform(part).drop("target_table").persist()
        )
    return out


def _state(lake):
    return sorted(
        tuple(r) for r in lake.read().select(*[c for c, _ in SCHEMA]).collect()
    )


def test_two_sources_interleaved_match_single_task(spark):
    batch_a, batch_b = _batches(spark)
    # single-task baseline: union feed applied by one writer
    ref = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="dm_ms_ref_"), SCHEMA, KEY, n_buckets=8
    )
    ref.merge_into(batch_a.unionByName(batch_b))

    # two tasks: SEPARATE LakeTable handles on one path (each reloads
    # HEAD per merge, as two processes would), interleaved by halves
    path = tempfile.mkdtemp(prefix="dm_ms_")
    lake_a = LakeTable.create(spark, path, SCHEMA, KEY, n_buckets=8)
    lake_b = LakeTable(spark, path)
    mid_a = batch_a.agg(F.expr("percentile_approx(_cdc_pos, 0.5)")).collect()[0][0]
    mid_b = batch_b.agg(F.expr("percentile_approx(_cdc_pos, 0.5)")).collect()[0][0]
    lake_a.merge_into(
        batch_a.where(F.col("_cdc_pos") <= mid_a), stream_id="src_a", batch_id=0
    )
    lake_b.merge_into(
        batch_b.where(F.col("_cdc_pos") <= mid_b), stream_id="src_b", batch_id=0
    )
    lake_a.merge_into(
        batch_a.where(F.col("_cdc_pos") > mid_a), stream_id="src_a", batch_id=1
    )
    lake_b.merge_into(
        batch_b.where(F.col("_cdc_pos") > mid_b), stream_id="src_b", batch_id=1
    )
    assert _state(lake_a) == _state(ref)

    # cross-stream redelivery: source A replays its WHOLE feed after
    # B's writes (fresh checkpoint on A's side) — LWW must converge to
    # the same state, not resurrect A's overwritten/deleted rows
    lake_a.merge_into(batch_a, stream_id="src_a_redeliver", batch_id=0)
    assert _state(lake_a) == _state(ref)
    batch_a.unpersist()
    batch_b.unpersist()
