"""Benchmark kernels, runnable standalone for clean-JVM scaling runs:

    python -m dm_spark.bench_support apply <master> <n_events> <shuffle_parts>

prints one JSON line {"events": N, "sec": s, "events_per_sec": r}.

The apply kernel is the engine's headline path (north rule:
change-events/sec applied end-to-end): synthesize a zipf-skewed change
feed with `spark.range` column math (no materialized input — the
10^10-event law, SURVEY §7.3d), run the transform pipeline, and MERGE
it into a lake table in ordered batches.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from dm_spark.config import RouteRule, TaskConfig
from dm_spark.feed import synthetic_feed
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.session import get_spark

SCHEMA = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
]
KEY = ["conv_id", "turn_idx"]


def apply_throughput(
    master: str,
    n_events: int,
    shuffle_partitions: int,
    n_batches: int = 4,
    n_buckets: int = 16,
    n_convs: int = 50_000,
    decode: bool = False,
    text_chars: int = 600,
) -> dict:
    spark = get_spark(
        f"bench_apply_{master}", master=master, shuffle_partitions=shuffle_partitions
    )
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    pipe = ApplyPipeline(cfg)
    workdir = tempfile.mkdtemp(prefix="dm_bench_")
    lake = LakeTable.create(spark, f"{workdir}/lake", SCHEMA, KEY, n_buckets=n_buckets)
    # warm the JVM/codegen/python-workers with a tiny run of the SAME
    # plan shape (excluded from timing)
    warm_feed = synthetic_feed(spark, 10_000, n_convs=1000, text_chars=text_chars)
    if decode:
        from dm_spark.sources.decode import decode_wire, to_wire

        warm_feed = decode_wire(to_wire(warm_feed))
    warm = pipe.transform(warm_feed).drop("target_table")
    # ungated warmup (batch_id=None): ADVICE r01 — the old batch_id
    # -100_000 was skipped by the monotone gate, so the "warmup" never
    # ran and the first timed batch absorbed ~8s of codegen/python-
    # worker startup
    wstats = lake.merge_into(warm, batch_id=None)
    assert not wstats.skipped and wstats.rows_written > 0

    per = n_events // n_batches
    t0 = time.time()
    for i in range(n_batches):
        feed = synthetic_feed(
            spark, per, n_convs=n_convs, partitions=shuffle_partitions,
            text_chars=text_chars,
        ).withColumn("file_seq", F.col("file_seq") + F.lit(i * 10_000))
        if decode:
            from dm_spark.sources.decode import decode_wire, to_wire

            feed = decode_wire(to_wire(feed))
        batch = pipe.transform(feed).drop("target_table")
        lake.merge_into(batch, batch_id=i)
    sec = time.time() - t0
    out = {
        "events": n_events,
        "sec": round(sec, 3),
        "events_per_sec": round(n_events / sec, 1),
        "master": master,
        "final_rows": None,
    }
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)
    return out


def trickle_throughput(
    master: str,
    write_mode: str,
    base_rows: int = 2_000_000,
    n_batches: int = 20,
    batch_events: int = 10_000,
    n_buckets: int = 64,
    shuffle_partitions: int = 16,
) -> dict:
    """Trickle CDC: small batches against a large existing table.
    CoW pays read+rewrite of touched buckets; MoR appends deltas.
    This is the regime of a 10^10-row table tailing a live feed."""
    spark = get_spark(f"bench_trickle_{write_mode}", master=master,
                      shuffle_partitions=shuffle_partitions)
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    pipe = ApplyPipeline(cfg)
    workdir = tempfile.mkdtemp(prefix="dm_trickle_")
    lake = LakeTable.create(spark, f"{workdir}/lake", SCHEMA, KEY,
                            n_buckets=n_buckets, write_mode=write_mode)
    snap = synthetic_feed(spark, base_rows, n_convs=base_rows // 40,
                          partitions=shuffle_partitions, text_chars=300)
    lake.overwrite(flatten_snapshot(snap))
    t0 = time.time()
    for i in range(n_batches):
        feed = synthetic_feed(
            spark, batch_events, n_convs=base_rows // 40,
            partitions=4, text_chars=300, seed=1000 + i,
        ).withColumn("file_seq", F.col("file_seq") + F.lit((i + 1) * 10_000))
        batch = pipe.transform(feed).drop("target_table")
        lake.merge_into(batch, batch_id=i)
    sec = time.time() - t0
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)
    total = n_batches * batch_events
    return {
        "mode": write_mode, "base_rows": base_rows, "events": total,
        "sec": round(sec, 3), "events_per_sec": round(total / sec, 1),
        "sec_per_batch": round(sec / n_batches, 3),
    }


def tail_throughput(
    master: str,
    n_events: int = 2_000_000,
    n_chunks: int = 16,
    shuffle_partitions: int = 16,
    n_buckets: int = 32,
    text_chars: int = 600,
    max_files_per_trigger: int = 4,
    compact_every: int = 8,
) -> dict:
    """Sustained live-tail ingest: relay files consumed by
    `run_continuous` (processing-time trigger) into a merge-on-read
    lake with periodic compaction — the production continuous-CDC
    shape. Measures end-to-end events/s from stream start to the
    checkpoint reaching the feed's final location, plus a final
    full-read latency (a MoR read merges base + deltas, so this is the
    read-amplification probe) and first-half vs second-half mean batch
    wall time (a long stream whose later batches slow down has
    unbounded delta accumulation — the compact cadence is failing).

    The ENDURANCE leg (bench.py) runs this with the same events-per-
    trigger but >=20 triggers: per-trigger throughput and final read
    latency must hold, not just survive a 4-trigger burst."""
    from dm_spark.sources.relay import write_feed_chunks
    from dm_spark.streaming import CdcStreamDriver

    spark = get_spark(f"bench_tail_{master}", master=master,
                      shuffle_partitions=shuffle_partitions)
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    pipe = ApplyPipeline(cfg)
    workdir = tempfile.mkdtemp(prefix="dm_tail_")
    lake = LakeTable.create(spark, f"{workdir}/lake", SCHEMA, KEY,
                            n_buckets=n_buckets, write_mode="mor")
    # warm codegen/python workers with an untimed merge of the same shape
    warm = pipe.transform(
        synthetic_feed(spark, 10_000, n_convs=1000, text_chars=text_chars)
    ).drop("target_table")
    ws = lake.merge_into(warm, batch_id=None)
    assert not ws.skipped
    feed = synthetic_feed(spark, n_events, n_convs=n_events // 40,
                          partitions=shuffle_partitions, text_chars=text_chars)
    write_feed_chunks(feed, f"{workdir}/feed", n_chunks=n_chunks)
    final = ((n_events - 1) // 1000, (n_events - 1) % 1000)

    def drained(_drv):
        cp = lake.global_checkpoint()
        return bool(cp) and (cp.get("file_seq", -1), cp.get("pos", -1)) >= final

    # 4 files/trigger default: micro-batch size amortizes per-batch
    # commit + trigger overhead (measured 2x vs 2 files at 2M events) —
    # the maxFilesPerTrigger backpressure knob doing its job
    drv = CdcStreamDriver(
        spark, f"{workdir}/feed", f"{workdir}/cp", pipe,
        {"transcripts": lake},
        max_files_per_trigger=max_files_per_trigger,
        compact_every=compact_every,
    )
    t0 = time.time()
    drv.run_continuous(trigger_sec=0.2, timeout_sec=1800, stop_when=drained, poll_sec=0.1)
    sec = time.time() - t0
    assert drained(drv), "tail did not drain"
    applied = [s for s in drv.batch_stats if not s.get("skipped")]
    out = {
        "events": n_events, "sec": round(sec, 3),
        "events_per_sec": round(n_events / sec, 1), "master": master,
        "batches": len(applied),
    }
    secs = [s["sec"] for s in applied if "sec" in s]
    if len(secs) >= 4:
        half = len(secs) // 2
        out["batch_sec_first_half"] = round(sum(secs[:half]) / half, 3)
        out["batch_sec_second_half"] = round(
            sum(secs[half:]) / (len(secs) - half), 3
        )
    # read-amplification probe: time a full MoR read (base + unmerged
    # deltas reconciled at read time) AFTER the stream drained
    tr = time.time()
    n_final = lake.read().count()
    out["final_read_sec"] = round(time.time() - tr, 3)
    out["final_rows"] = n_final
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)
    return out


def flatten_snapshot(envelope):
    from dm_spark.operators import flatten_changes

    return (
        flatten_changes(envelope)
        .where(F.col("op") != "D")
        .dropDuplicates(["conv_id", "turn_idx"])
        .drop("op", "_cdc_ts", "_cdc_file_seq", "_cdc_pos", "target_table")
    )


if __name__ == "__main__":
    kind = sys.argv[1]
    if kind in ("apply", "apply_decode"):
        n_batches = int(sys.argv[5]) if len(sys.argv) > 5 else 4
        res = apply_throughput(
            sys.argv[2],
            int(sys.argv[3]),
            int(sys.argv[4]),
            n_batches=n_batches,
            decode=(kind == "apply_decode"),
        )
        print(json.dumps(res))
    elif kind == "trickle":
        res = trickle_throughput(sys.argv[2], sys.argv[3])
        print(json.dumps(res))
    elif kind == "tail":
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000
        parts = int(sys.argv[4]) if len(sys.argv) > 4 else 16
        chunks = int(sys.argv[5]) if len(sys.argv) > 5 else 16
        mft = int(sys.argv[6]) if len(sys.argv) > 6 else 4
        res = tail_throughput(
            sys.argv[2], n, n_chunks=chunks, shuffle_partitions=parts,
            max_files_per_trigger=mft,
        )
        print(json.dumps(res))
    else:
        raise SystemExit(f"unknown kernel {kind}")
