"""Lake-to-lake replication: tail one LakeTable's change feed into
another, continuously.

This is the downstream half of the CDC-out closure (`LakeTable.
changes_stream`): the upstream lake's `_changes/` dirs are a file
stream, each micro-batch LWW-merges into the destination with the same
exactly-once machinery as the primary ingest path (file-source offsets
+ `merge_into(batch_id, stream_id)` gating + LWW convergence on
redelivery). Chains compose — A -> B -> C each hop runs one of these —
so a 100-TB pipeline materializes derived tables off table deltas
instead of rescanning upstream state at every step.

No reference counterpart: pingcap/dm consumes CDC but never emits it;
this closes the loop on the lake side (the Delta CDF + downstream-job
shape)."""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import SparkSession

from dm_spark.lake import LakeTable


def sync_replica_schema(src: LakeTable, dst: LakeTable) -> list[dict]:
    """Bring a replica's schema up to its upstream's: name-diff the two
    field lists and apply the LOSSLESS direction (add missing columns,
    widen diverged types) through dst.apply_ddl, stamped at src's DDL
    high-water location so a re-run is gated as obsolete. Renames and
    drops are NOT derivable from a name diff (a rename looks like
    drop+add) — those need an explicit operator action on the replica,
    the same stance the reference takes on untrackable DDL. Returns the
    actions applied."""
    from dm_spark.schema.registry import widest

    dfields = {f["name"]: f["type"] for f in dst.schema_fields()}
    hw = src.ddl_high_water()
    applied = []
    i = 0
    for f in src.schema_fields():
        if f["name"] not in dfields:
            # carry the source's declared literal default so the
            # replica's pre-DDL rows backfill identically (rows shipped
            # through the change feed carry explicit values either way)
            act = {"action": "add_column", "column": f["name"], "new_type": f["type"],
                   "default": f.get("default")}
        elif dfields[f["name"]].lower() != f["type"].lower():
            # lossless means WIDEN ONLY: if the replica's type is
            # already the wider of the two (an operator pre-widened it),
            # narrowing it to src's type would silently truncate stored
            # values on every read — skip; the merge casts up instead.
            # When NEITHER side is the widest (dst=bigint vs
            # src=decimal(10,2) -> decimal(22,2)) the replica must move
            # to the JOINED type, not src's — applying src's type would
            # narrow the bigint. Genuinely incompatible types raise
            # inside widest().
            wide = widest(dfields[f["name"]], f["type"])
            if wide == dfields[f["name"]].lower():
                continue
            act = {"action": "widen_type", "column": f["name"], "new_type": wide}
        else:
            continue
        act.update({"file_seq": hw[0], "pos": hw[1], "suffix": hw[2] + i + 1})
        i += 1
        if dst.apply_ddl(act):
            applied.append(act)
    return applied


def replicate_lake(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    checkpoint_dir: str,
    timeout_sec: int = 600,
    trigger_sec: float | None = None,
    stop_when=None,
    poll_sec: float = 0.25,
    sync_schema: bool = True,
) -> list[dict]:
    """Replicate `src`'s change feed into `dst`.

    `trigger_sec=None` drains the current feed and stops
    (Trigger.AvailableNow — catch-up mode); a float tails continuously
    until `timeout_sec` or `stop_when(stats) -> bool`. Resume is free:
    the same checkpoint_dir picks up at the first unread change file,
    and a replayed batch is skipped by the destination's batch-id gate.
    Returns per-batch merge stats.

    `sync_schema=True` first applies upstream add/widen schema changes
    to the replica (see :func:`sync_replica_schema`) so columns added
    at the source land here instead of being silently dropped by the
    merge's schema tolerance; the stream's read schema is fixed after
    that point, so a mid-run upstream DDL needs a restart of this call
    (the standard file-source contract — catch-up mode re-syncs on
    every invocation)."""
    stream_id = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:16]
    stats: list[dict] = []
    if sync_schema:
        sync_replica_schema(src, dst)

    def _apply(batch_df, batch_id: int) -> None:
        st = dst.merge_into(batch_df, batch_id=batch_id, stream_id=stream_id)
        stats.append(
            {
                "batch_id": batch_id,
                "skipped": st.skipped,
                "n_incoming": st.n_incoming,
                "rows_written": st.rows_written,
                "buckets_touched": st.n_buckets_touched,
            }
        )

    w = (
        src.changes_stream()
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_sec is None:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
        return stats
    q = w.trigger(processingTime=f"{max(trigger_sec, 0.1)} seconds").start()
    t0 = time.time()
    try:
        while q.isActive and time.time() - t0 < timeout_sec:
            if stop_when is not None and stop_when(stats):
                break
            time.sleep(poll_sec)
    finally:
        q.stop()
        q.awaitTermination(60)
    return stats


def bootstrap_replica(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    stream_name: str = "replica",
    sync_schema: bool = True,
):
    """Seed (or re-seed) a poll replica from a source snapshot — the
    remedy when the consumer fell out of the change-feed retention
    window (changes() raises "pruned below"). ONE merge call carries
    both the data and the resume point: the source state becomes an
    insert-only batch with ORIGINAL lineage (snapshot_changes — fresh
    lineage would lose LWW to redelivered old events), merged with
    batch_id = the source's snapshot version under the poll stream id,
    so the cursor advances atomically with the data and a crash mid-
    bootstrap just re-runs idempotently (same batch id -> gate skip).
    Subsequent replicate_lake_poll calls resume past the snapshot."""
    if sync_schema:
        sync_replica_schema(src, dst)
    stream_id = hashlib.sha256(f"poll:{stream_name}".encode()).hexdigest()[:16]
    head = src._head_version()  # noqa: SLF001 — snapshot HEAD read
    return dst.merge_into(src.snapshot_changes(), batch_id=head, stream_id=stream_id)


def replicate_lake_poll(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    stream_name: str = "replica",
    timeout_sec: int = 600,
    poll_sec: float | None = None,
    stop_when=None,
    sync_schema: bool = True,
) -> list[dict]:
    """Version-cursor replication over the BATCH changes() API — works
    for MoR sources too (whose change entries live inside data commit
    dirs, out of reach of the file-stream path), and for object stores
    with no file-notification semantics: discovery is the change log in
    the manifest, not a directory listing.

    Exactly-once with ZERO side-channel state: each poll merges the
    window (cursor, head] with `batch_id = head` (the source's snapshot
    version — monotone) under a fixed stream id, and the cursor IS the
    destination's batch gate (`dst.stream_position`), which commits
    atomically with the merge. A crash between merge and any bookkeeping
    cannot desync — there is no bookkeeping; the re-merge after restart
    is skipped by the gate (or degenerates to an LWW no-op).

    `poll_sec=None` runs one catch-up pass and returns; a float polls
    until `timeout_sec` or `stop_when(stats)`."""
    stream_id = hashlib.sha256(f"poll:{stream_name}".encode()).hexdigest()[:16]
    stats: list[dict] = []

    def _pass() -> None:
        if sync_schema:
            sync_replica_schema(src, dst)
        cursor = dst.stream_position(stream_id)
        head = src._head_version()  # noqa: SLF001 — snapshot HEAD read
        if head <= cursor:
            return
        # tag_versions=False: the whole catch-up window coalesces into
        # one scan per schema group — the plan stays O(1) even when the
        # replica is thousands of source versions behind
        window = src.changes(cursor + 1, head, tag_versions=False)
        st = dst.merge_into(window, batch_id=head, stream_id=stream_id)
        stats.append(
            {
                "batch_id": head,
                "from_version": cursor + 1,
                "skipped": st.skipped,
                "n_incoming": st.n_incoming,
                "rows_written": st.rows_written,
                "buckets_touched": st.n_buckets_touched,
            }
        )

    if poll_sec is None:
        _pass()
        return stats
    t0 = time.time()
    while time.time() - t0 < timeout_sec:
        _pass()
        if stop_when is not None and stop_when(stats):
            break
        time.sleep(poll_sec)
    return stats
