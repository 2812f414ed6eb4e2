"""Lake-to-lake replication: tail one LakeTable's change feed into
another.

This is the downstream half of the CDC-out closure (`LakeTable.
changes`): each poll reads the change log out of the upstream's
committed manifest and LWW-merges the window into the destination
with the same exactly-once machinery as the primary ingest path
(`merge_into(batch_id, stream_id)` gating + LWW convergence on
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


def _poll_stream_id(stream_name: str) -> str:
    """The batch-gate stream id a named poll replica merges under —
    shared by bootstrap and poll so a bootstrap plants the cursor the
    poll resumes from."""
    return hashlib.sha256(f"poll:{stream_name}".encode()).hexdigest()[:16]


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
    stream_id = _poll_stream_id(stream_name)
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
    """Version-cursor replication over the BATCH changes() API, for
    CoW and MoR sources alike and for object stores with no
    file-notification semantics: discovery is the change log in the
    committed manifest, not a directory listing, so a change row is
    admitted only once its merge committed, a pruned window raises
    "pruned below" (as does a source truncate), and files written
    before a rename read back by field id.

    Exactly-once with ZERO side-channel state: each poll merges the
    window (cursor, head] with `batch_id = head` (the source's snapshot
    version — monotone) under a fixed stream id, and the cursor IS the
    destination's batch gate (`dst.stream_position`), which commits
    atomically with the merge. A crash between merge and any bookkeeping
    cannot desync — there is no bookkeeping; the re-merge after restart
    is skipped by the gate (or degenerates to an LWW no-op).

    `poll_sec=None` runs one catch-up pass and returns; a float polls
    until `timeout_sec` or `stop_when(stats)`."""
    stream_id = _poll_stream_id(stream_name)
    stats: list[dict] = []

    def _pass() -> None:
        if sync_schema:
            sync_replica_schema(src, dst)
        cursor = dst.stream_position(stream_id)
        head = src._head_version()  # noqa: SLF001 — snapshot HEAD read
        if head <= cursor:
            return
        # the whole catch-up window reads in one scan per schema group —
        # the plan stays O(1) even when the replica is thousands of
        # source versions behind
        window = src.changes(cursor + 1, head)
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
