"""Chained-pipeline demo: incremental exact-dedup corpus off a change
feed.

Topology (the training-data shape the change feed exists for):

    documents land in a `raw` lake (change_feed=True)
      -> version-cursor poll consumes only the NEW rows
      -> fingerprint (xxhash64 of normalized text)
      -> first-seen-per-fingerprint kept via the dedup lake's LWW merge
         (lineage INVERTED so the EARLIEST occurrence wins)

Each pass is incremental: cost is O(new documents), never a corpus
rescan — the property that matters at 10^10 documents.

    python examples/chained_dedup.py /tmp/dm_chained_demo
"""

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from dm_spark.lake import LakeTable
from dm_spark.session import get_spark

WORK = sys.argv[1] if len(sys.argv) > 1 else "/tmp/dm_chained_demo"

spark = get_spark("chained_dedup", master="local[8]", shuffle_partitions=8)

RAW_SCHEMA = [("doc_id", "string"), ("text", "string"), ("ts", "timestamp")]
DEDUP_SCHEMA = [("fp", "long"), ("doc_id", "string"), ("text", "string"), ("ts", "timestamp")]

raw = LakeTable.create(spark, f"{WORK}/raw", RAW_SCHEMA, ["doc_id"],
                       n_buckets=8, change_feed=True)
dedup = LakeTable.create(spark, f"{WORK}/dedup", DEDUP_SCHEMA, ["fp"], n_buckets=8)

STREAM = "dedup_consumer"


def ingest(rows):
    df = spark.createDataFrame(rows, "doc_id string, text string, pos long").select(
        "doc_id", "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("pos")).alias("ts"),
        F.lit("I").alias("op"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("pos")).alias("_cdc_ts"),
        F.lit(0).cast("long").alias("_cdc_file_seq"),
        F.col("pos").alias("_cdc_pos"),
    )
    raw.merge_into(df)


def dedup_pass():
    """Consume the raw lake's delta, keep FIRST occurrence per
    fingerprint. First-seen-wins re-uses the LWW merge by inverting the
    lineage ordering (negated position) — no new operator needed."""
    cursor = dedup.stream_position(STREAM)
    head = raw._head_version()
    if head <= cursor:
        return 0
    # the window since the cursor, read in one scan however many
    # versions it spans
    win = raw.changes(cursor + 1, head).where(F.col("op") != "D")
    fp = F.xxhash64(F.lower(F.regexp_replace("text", r"\s+", " ")))
    batch = win.select(
        fp.alias("fp"), "doc_id", "text", "ts", "op",
        # earliest-wins: invert the ordering the LWW merge maximizes
        F.timestamp_seconds(F.lit(0) - F.unix_micros("_cdc_ts") / 1e6).alias("_cdc_ts"),
        (-F.col("_cdc_file_seq")).alias("_cdc_file_seq"),
        (-F.col("_cdc_pos")).alias("_cdc_pos"),
    )
    st = dedup.merge_into(batch, batch_id=head, stream_id=STREAM)
    return st.rows_written or 0


ingest([("d1", "The quick brown fox", 1), ("d2", "Hello   world", 2)])
print("pass 1 kept:", dedup_pass())
# d3 duplicates d1 (whitespace-normalized); d4 is new
ingest([("d3", "the QUICK brown fox", 3), ("d4", "Fresh content", 4)])
print("pass 2 kept:", dedup_pass())
print("idle pass kept:", dedup_pass())

kept = sorted(r.doc_id for r in dedup.read().select("doc_id").collect())
print("corpus doc_ids:", kept)  # d3 deduped away -> d1, d2, d4
assert kept == ["d1", "d2", "d4"], kept
spark.stop()
print("OK")
