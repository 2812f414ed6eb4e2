"""The benchmark's workloads, driven through the engine's public API.

- `catchup`: closed loop. A backlog of relay files is published up
  front and `Task.run_incremental` drains it into a copy-on-write lake.
- `live_tail`: open loop. A publisher thread moves one pre-written
  relay file into the feed directory on a fixed schedule while
  `CdcStreamDriver.run_continuous` tails it into a merge-on-read lake,
  whose unresolved deltas the full-table reads after the tail meet.
- `wire_replay`, a phase that follows the `catchup` measurement: a
  seeded feed goes through the wire format (`to_wire`, `decode_wire`)
  into relay files with an in-band ALTER, which a runner-mode
  `CdcStreamDriver` replays (`ReplayRunner`, schema evolution).

Freshness is measured from outside: a watcher thread records when each
lake checkpoint becomes visible through `LakeTable.global_checkpoint()`,
and a relay file is fresh once a committed checkpoint reaches the
file's last (file_seq, pos).
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dm_spark.config import RouteRule, TaskConfig
from dm_spark.feed import query_events, synthetic_feed
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.plans import ReplayRunner
from dm_spark.sources import relay
from dm_spark.sources.decode import decode_wire, to_wire
from dm_spark.streaming import CdcStreamDriver
from dm_spark.task import Task

SCHEMA = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
]
KEY = ["conv_id", "turn_idx"]
CONFIG = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
N_CONVS = 20_000
TEXT_CHARS = 600
N_BUCKETS = 16
FILES_PER_TRIGGER = 4
# catchup: one trigger's worth of backlog (4 files of 25k events) per
# this many seconds of run length; a batch takes about 2.5 s on 4 cores,
# so the drain takes about a third of the run length
CATCHUP_FILE_EVENTS = 25_000
CATCHUP_RUN_S_PER_BATCH = 7.5
# full-size warm-up batches: the first builds a base, the rest are the
# copy-on-write over a non-empty base that every measured batch runs
CATCHUP_WARM_BATCHES = 2

# live_tail: the tail kernel's driver settings, an open-loop publisher
TAIL_FILE_EVENTS = 5_000
TAIL_PERIOD_S = 1.5  # 3.3k events/s offered
TAIL_LEAD_S = 1.0  # first file is due this long after the stream starts
TAIL_TRIGGER_S = 0.2
TAIL_COMPACT_EVERY = 8
TAIL_DRAIN_GRACE_S = 20.0
TAIL_WARM_BATCHES = 3  # the second compacts, the third leaves a delta

# full-table reads after the measured phase (per-layer only): a
# copy-on-write read takes about 0.3 s, a merge-on-read one about 1 s
CATCHUP_READS = 6
TAIL_READS = 3

# wire_replay: 4 relay files, one runner batch; the ALTER sits at an
# unoccupied location (pos 1000; event positions are 0..999) in the
# third file, so the batch replays as two ranges around it
REPLAY_FILES = 4
REPLAY_FILE_EVENTS = 12_500
REPLAY_DDL_FILE_SEQ = 30
REPLAY_DDL = "ALTER TABLE shard_0.transcripts_0 ADD COLUMN rating INT"


def full_read(lake: LakeTable):
    """The consumer read: the whole table, every column aggregated."""
    df = lake.read()
    return df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).collect()[0]


def file_max_loc(path: str) -> tuple[int, int]:
    """Last (file_seq, pos) of a relay file, read from its two location
    columns: a file may span several file_seq values, so the footer's
    per-column maxima alone could name a location past the file."""
    t = pq.read_table(path, columns=["file_seq", "pos"]).to_pandas()
    fs = int(t["file_seq"].max())
    return fs, int(t.loc[t["file_seq"] == fs, "pos"].max())


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class CommitWatcher(threading.Thread):
    """Records (wall time, checkpoint) each time the lake's committed
    checkpoint changes. Polls the manifest directory's mtime and reads
    the checkpoint through the public API only when it moved."""

    def __init__(self, lake: LakeTable, period: float = 0.01):
        super().__init__(name="perfbench-watcher", daemon=True)
        self.lake = lake
        self.period = period
        self.commits: list[tuple[float, tuple[int, int]]] = []
        self._stop_evt = threading.Event()

    def latest(self) -> tuple[int, int] | None:
        return self.commits[-1][1] if self.commits else None

    def _poll(self, last_mtime):
        mtime = os.stat(self.lake.meta_dir).st_mtime_ns
        if mtime == last_mtime:
            return last_mtime
        cp = self.lake.global_checkpoint()
        seen = time.time()
        if os.stat(self.lake.meta_dir).st_mtime_ns != mtime:
            return last_mtime  # a commit landed mid-read: poll again
        if cp:
            loc = (int(cp["file_seq"]), int(cp["pos"]))
            if loc != self.latest():
                self.commits.append((seen, loc))
        return mtime

    def run(self) -> None:
        last = None
        while not self._stop_evt.is_set():
            last = self._poll(last)
            self._stop_evt.wait(self.period)
        self._poll(last)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def freshness(due: list[float], max_locs: list[tuple[int, int]], commits) -> list[float | None]:
    """Per relay file: seconds from its due time to the first commit
    whose checkpoint covers its last location (None: never committed)."""
    out = []
    for d, loc in zip(due, max_locs):
        hit = next((t for t, cp in commits if cp >= loc), None)
        out.append(None if hit is None else hit - d)
    return out


class Publisher(threading.Thread):
    """Open-loop relay publisher: file i is due at t0 + i * period and
    is moved into the feed directory then, with a fresh mtime, however
    far behind the tail is."""

    def __init__(self, files: list[str], feed_dir: str, t0: float, period: float):
        super().__init__(name="perfbench-publisher", daemon=True)
        self.files, self.feed_dir = files, feed_dir
        self.due = [t0 + i * period for i in range(len(files))]
        self.late: list[float] = []
        self.done = threading.Event()

    def run(self) -> None:
        try:
            for src, due in zip(self.files, self.due):
                time.sleep(max(0.0, due - time.time()))
                dst = os.path.join(self.feed_dir, os.path.basename(src))
                os.rename(src, dst)
                now = time.time()
                os.utime(dst, (now, now))
                self.late.append(now - due)
        finally:
            self.done.set()


def _generate(ctx, n_files: int, file_events: int, feed_dir: str, warm_files: int) -> dict:
    """The measured relay files and, in `warm_feed`, a warm-up feed of
    `warm_files` files of the same size. Both come from one seeded feed:
    the warm-up takes its first files, so its locations all lie before
    the measured ones. Generation is timed apart from set-up."""
    with ctx.phase("bench.generate"):
        feed = synthetic_feed(
            ctx.spark, (warm_files + n_files) * file_events, n_convs=N_CONVS, seed=ctx.seed,
            partitions=ctx.cores * 2, text_chars=TEXT_CHARS,
        )
        files = relay.write_feed_chunks(feed, feed_dir, n_chunks=warm_files + n_files)
        warm_dir = f"{ctx.work}/warm_feed"
        os.makedirs(warm_dir)
        for f in files[:warm_files]:
            os.rename(f, os.path.join(warm_dir, os.path.basename(f)))
        files = files[warm_files:]
        return dict(
            files=files, max_locs=[file_max_loc(f) for f in files],
            file_events=[pq.ParquetFile(f).metadata.num_rows for f in files],
        )


def consumer_reads(ctx, lake: LakeTable, n: int) -> list[float]:
    """Seconds taken by each of `n` back-to-back full-table reads. They
    feed per-layer metrics only, so they run in the traced run only."""
    secs = []
    if not ctx.traced:
        return secs
    with ctx.phase("reads"):
        for _ in range(n):
            t0 = time.time()
            with ctx.tracer.span("reader.read"):
                full_read(lake)
            secs.append(time.time() - t0)
    return secs


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def catchup(ctx) -> dict:
    w = ctx.work
    with ctx.phase("setup.lake_create"):
        lake = LakeTable.create(ctx.spark, f"{w}/lake", SCHEMA, KEY, n_buckets=N_BUCKETS)
    n_files = FILES_PER_TRIGGER * max(2, round(ctx.seconds / CATCHUP_RUN_S_PER_BATCH))
    gen = _generate(ctx, n_files, CATCHUP_FILE_EVENTS, f"{w}/feed", CATCHUP_WARM_BATCHES * FILES_PER_TRIGGER)
    files, max_locs = gen["files"], gen["max_locs"]
    with ctx.phase("session.warmup"):
        warm = LakeTable.create(ctx.spark, f"{w}/warm_lake", SCHEMA, KEY, n_buckets=N_BUCKETS)
        Task(ctx.spark, CONFIG, warm, f"{w}/warm_feed", f"{w}/warm_cp").run_incremental(
            max_files_per_trigger=FILES_PER_TRIGGER
        )
        full_read(warm)
    ctx.setup_done()

    watcher = CommitWatcher(lake)
    watcher.start()
    with ctx.phase("measure"):
        t0 = time.time()
        stats = Task(ctx.spark, CONFIG, lake, f"{w}/feed", f"{w}/cp").run_incremental(
            max_files_per_trigger=FILES_PER_TRIGGER
        )
    watcher.stop()
    fresh = freshness([t0] * len(files), max_locs, watcher.commits)
    # the drain rate: the backlog over the time until its last file committed
    rate = sum(gen["file_events"]) / max(fresh) if None not in fresh else 0.0
    reads = consumer_reads(ctx, lake, CATCHUP_READS)
    # per-layer metrics only, so traced runs only
    replay = wire_replay(ctx) if ctx.traced else None
    checks = [(lake, files, ())]
    if replay:
        checks.append((replay["lake"], replay["files"], ("rating",)))
    return dict(
        lake=lake, files=files, due=[t0] * len(files), fresh=fresh,
        events=sum(gen["file_events"]), events_per_s=rate,
        reads=reads, batch_stats=stats, publisher_late=[0.0],
        replay=replay,
        checks=checks,
    )


def wire_replay(ctx) -> dict:
    """Wire decode, runner-mode replay and an in-band schema change on
    a seeded feed. Returns the replayed lake, its relay files and the
    runner's batch count."""
    w, spark = ctx.work, ctx.spark
    feed = synthetic_feed(
        spark, REPLAY_FILES * REPLAY_FILE_EVENTS, n_convs=N_CONVS, seed=ctx.seed + 2,
        partitions=ctx.cores * 2, text_chars=TEXT_CHARS,
    )
    with ctx.phase("replay.generate"):
        to_wire(feed).write.parquet(f"{w}/wire")
    with ctx.phase("decode"):
        decode_wire(spark.read.parquet(f"{w}/wire")).write.parquet(f"{w}/decoded")
    with ctx.phase("replay.generate"):
        # the ALTER rides in the same transaction as its file's last event
        ddl = query_events(spark, [(REPLAY_DDL, "shard_0.transcripts_0", REPLAY_DDL_FILE_SEQ, 1000)])
        ddl = ddl.withColumn("txn_id", F.lit(REPLAY_DDL_FILE_SEQ * 100 + 99).cast("bigint"))
        files = relay.write_feed_chunks(
            spark.read.parquet(f"{w}/decoded").unionByName(ddl),
            f"{w}/replay_feed", n_chunks=REPLAY_FILES,
        )
    with ctx.phase("replay"):
        lake = LakeTable.create(spark, f"{w}/replay_lake", SCHEMA, KEY, n_buckets=N_BUCKETS)
        pipe = ApplyPipeline(CONFIG)
        stats = CdcStreamDriver(
            spark, f"{w}/replay_feed", f"{w}/replay_cp", pipe, {CONFIG.target_table: lake},
            max_files_per_trigger=FILES_PER_TRIGGER, runner=ReplayRunner(pipeline=pipe, lake=lake),
        ).run_available_now()
    return dict(
        lake=lake, files=files, batches=len(stats), ddls=sum(b.get("ddls", 0) for b in stats),
        events=REPLAY_FILES * REPLAY_FILE_EVENTS,
    )


def live_tail(ctx) -> dict:
    w = ctx.work
    with ctx.phase("setup.lake_create"):
        lake = LakeTable.create(
            ctx.spark, f"{w}/lake", SCHEMA, KEY, n_buckets=N_BUCKETS, write_mode="mor"
        )
    n_files = max(4, int(ctx.seconds / TAIL_PERIOD_S))
    gen = _generate(ctx, n_files, TAIL_FILE_EVENTS, f"{w}/stage", TAIL_WARM_BATCHES * FILES_PER_TRIGGER)
    files, max_locs = gen["files"], gen["max_locs"]
    feed_dir = f"{w}/feed"
    os.makedirs(feed_dir)
    with ctx.phase("session.warmup"):
        # merge-on-read appends with a compaction, and a read that resolves deltas
        warm = LakeTable.create(
            ctx.spark, f"{w}/warm_lake", SCHEMA, KEY, n_buckets=N_BUCKETS, write_mode="mor"
        )
        CdcStreamDriver(
            ctx.spark, f"{w}/warm_feed", f"{w}/warm_cp", ApplyPipeline(CONFIG),
            {CONFIG.target_table: warm}, max_files_per_trigger=FILES_PER_TRIGGER,
            compact_every=2,
        ).run_available_now()
        full_read(warm)
    ctx.setup_done()

    drv = CdcStreamDriver(
        ctx.spark, feed_dir, f"{w}/cp", ApplyPipeline(CONFIG),
        {CONFIG.target_table: lake}, max_files_per_trigger=FILES_PER_TRIGGER,
        compact_every=TAIL_COMPACT_EVERY,
    )
    t0 = time.time() + TAIL_LEAD_S
    publisher = Publisher(files, feed_dir, t0, TAIL_PERIOD_S)
    watcher = CommitWatcher(lake)
    final = max(max_locs)
    deadline = publisher.due[-1] + TAIL_DRAIN_GRACE_S

    def stop_when(d) -> bool:
        # stop between batches: the batch that committed the last file
        # has also finished its compaction and recorded its stats
        drained = (
            publisher.done.is_set()
            and (watcher.latest() or (-1, -1)) >= final
            and len(d.batch_stats) >= len(watcher.commits)
        )
        return drained or time.time() > deadline

    with ctx.phase("measure"):
        watcher.start()
        publisher.start()
        try:
            stats = drv.run_continuous(
                trigger_sec=TAIL_TRIGGER_S, timeout_sec=int(deadline - time.time()) + 30,
                stop_when=stop_when, poll_sec=0.05,
            )
        finally:
            publisher.join()
            watcher.stop()
    fresh = freshness(publisher.due, max_locs, watcher.commits)
    files = [os.path.join(feed_dir, os.path.basename(f)) for f in files]
    # the rate the engine applies at while it tails: committed events
    # over the time spent inside micro-batches (merge and compaction
    # included). The offered rate is fixed, so this is the tail's
    # headroom, not the publisher's pace.
    busy = sum(b["sec"] for b in stats if "sec" in b)
    return dict(
        lake=lake, files=files, due=publisher.due, fresh=fresh, events=sum(gen["file_events"]),
        events_per_s=sum(gen["file_events"]) / busy if None not in fresh and busy else 0.0,
        reads=consumer_reads(ctx, lake, TAIL_READS), batch_stats=stats,
        publisher_late=publisher.late, replay=None, checks=[(lake, files, ())],
    )


WORKLOADS = {"catchup": catchup, "live_tail": live_tail}


def end_to_end(res: dict, setup_s: float) -> dict:
    """The end-to-end metrics of a run (failed files count as the
    longest freshness seen, so they miss every limit)."""
    fresh = res["fresh"]
    worst = max((f for f in fresh if f is not None), default=0.0)
    filled = [worst if f is None else f for f in fresh]
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (res["events_per_s"], "ev/s"),
        "freshness_p50_s": (statistics.median(filled), "s"),
    }
