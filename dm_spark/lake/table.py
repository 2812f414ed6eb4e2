"""LakeTable — an Iceberg-style snapshot table with MERGE INTO semantics.

The sandbox ships no Iceberg/Delta runtime jar, so the sink the
reference pipeline needs (key-partitioned `MERGE INTO` with snapshot
atomicity, schema evolution, time travel) is implemented natively on
parquet. The design mirrors Iceberg's:

- **Snapshot isolation / atomic commit**: every mutation writes new
  parquet files into an immutable `data/commit-<v>/` directory and then
  atomically swaps a `HEAD` pointer (os.rename) to a new `_meta/v<v>.json`
  manifest. Readers only ever see a committed manifest; a crash mid-write
  leaves orphan files, never a corrupt table (Iceberg's
  metadata-pointer-swap model).
- **Hash-bucket partitioning + partition-level copy-on-write**: rows are
  bucketed by `pmod(murmur3(key), n_buckets)` (Iceberg `bucket(N, key)`
  transform). A MERGE only commits rewrites of the buckets that contain
  incoming keys, and when a pre-pass can narrow it, reads only those —
  cost is proportional to touched buckets, not table size, which is
  what makes continuous upserts viable at 10^10 rows (size n_buckets so
  bucket ≈ a few GB at target scale).
- **Field-ID schema evolution**: columns carry stable integer field ids;
  add/rename/widen/drop never rewrite data files. Each data file records
  the schema version it was written under, and the read path projects it
  to the current schema (rename = alias by id, add = null fill,
  widen = cast) — exactly Iceberg's name-mapping-by-id semantics.
- **Exactly-once**: `merge_into(batch_id=...)` is gated on a monotone
  last-committed batch id, so a Structured Streaming `foreachBatch`
  replay after restart is a no-op (the reference's safe-mode +
  checkpoint model, syncer/checkpoint.go:49-56 invariants, collapses to
  idempotent upsert + batch gate, per SURVEY §4 "checkpoint dedup").

MERGE semantics (reference: generated DML forms syncer/dml.go:586-666;
safe-mode upsert rewrite = `ON DUPLICATE KEY UPDATE` / delete+insert):
incoming change rows (op I/U/D + payload + lineage (_cdc_ts,
_cdc_file_seq, _cdc_pos)) are resolved **last-write-wins** against each
other and against the stored base rows on `(ts, file_seq, pos)` — the
causality/conflict machinery of syncer/causality.go:25-136 is replaced
by per-batch LWW dedup because a whole batch commits atomically
(SURVEY §2.3). Update-as-upsert == DM safe mode. A 'D' winner removes
the row. Replayed (older) events lose LWW and cannot regress the table.

On a real cluster with the Iceberg runtime, `dm_spark.lake.iceberg`
provides the same interface over a genuine Iceberg catalog.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dm_spark.operators.identity import ladder_identity_expr

LINEAGE_COLS = ["_cdc_ts", "_cdc_file_seq", "_cdc_pos"]

# ------------------------------------------------------- session confs
# The merge/compact write plan is union -> fixed repartition(B) ->
# window -> filter -> write: no joins, and AQE never coalesces an
# explicit repartition, so adaptive execution cannot improve the plan
# at ANY scale — it only runs each query stage as a job of its own and
# adds a replanning pass (measured at sf0.1: ~0.4-0.7s per 4-merge
# replay query; the per-batch latency also rides every streaming
# trigger). AQE is therefore toggled off around these actions, on the
# session that plans them: the DataFrame's own (a `foreachBatch`
# DataFrame runs on the stream's cloned session, not the lake's).
# Depth-counted per JVM session and key so the multi-target merge
# thread pool (plans/replay.py) cannot interleave a restore under a
# sibling's toggle; DM_SPARK_MERGE_AQE=keep opts out for callers that
# merge join-heavy upstream plans.
import threading as _threading
from contextlib import contextmanager as _contextmanager

_CONF_LOCK = _threading.Lock()
_CONF_STATE: dict[tuple[str, str], list] = {}  # (session uuid, key) -> [depth, prev]
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@_contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    sid = (spark._jsparkSession.sessionUUID(), key)  # noqa: SLF001
    with _CONF_LOCK:
        st = _CONF_STATE.setdefault(sid, [0, None])
        if st[0] == 0:
            st[1] = spark.conf.get(key, None)
            spark.conf.set(key, value)
        st[0] += 1
    try:
        yield
    finally:
        with _CONF_LOCK:
            st[0] -= 1
            if st[0] == 0:
                if st[1] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, st[1])
                del _CONF_STATE[sid]


@_contextmanager
def _merge_aqe_off(spark: SparkSession):
    if os.environ.get("DM_SPARK_MERGE_AQE") == "keep":
        yield
        return
    with _session_conf(spark, "spark.sql.adaptive.enabled", "false"):
        yield


# failpoint seam (the reference's gofail analog, used all over its
# integration suites): tests inject a stall between the manifest write
# and the HEAD swap to exercise the fencing re-read; None in production
_COMMIT_STALL_HOOK = None

# manifests above HEAD older than this are crashed-writer orphans,
# reclaimable by the next commit / vacuum (ADVICE r03 #2)
_ORPHAN_MANIFEST_GRACE_SEC = 10.0


def _parquet_files_with_rows(commit_dir: str) -> list[tuple[str, int]]:
    """(filename, num_rows) per part file, from parquet footers — the
    manifest-stats read Iceberg does; local footer reads are cheap."""
    import pyarrow.parquet as pq

    out = []
    for fn in os.listdir(commit_dir):
        if fn.startswith("part-") and fn.endswith(".parquet"):
            out.append((fn, pq.ParquetFile(os.path.join(commit_dir, fn)).metadata.num_rows))
    return out


def _drop_part_file(path: str) -> int:
    """Delete an uncommitted part file (and its local checksum file);
    returns its row count."""
    import pyarrow.parquet as pq

    n = pq.ParquetFile(path).metadata.num_rows
    d, fn = os.path.split(path)
    for p in (path, os.path.join(d, f".{fn}.crc")):
        if os.path.exists(p):
            os.remove(p)
    return n


@dataclass
class MergeStats:
    version: int
    batch_id: int | None
    skipped: bool = False
    n_incoming: int = 0
    n_deletes_in: int = 0
    n_buckets_touched: int = 0
    rows_written: int = 0


@dataclass
class _Meta:
    version: int
    schema_version: int
    key: list[str]
    n_buckets: int
    next_field_id: int
    # schema_version (str) -> [ {id, name, type} ]
    schema_history: dict[str, list[dict]]
    # bucket (str) -> [ {path, schema_version} ]
    buckets: dict[str, list[dict]]
    last_batch_id: int = -1
    stream_id: str = ""
    # unique-key ladder (syncer/dml.go:260-318): when non-empty, the
    # merge identity per row is PK if all its components are non-null,
    # else the first all-non-null unique key, else the full row —
    # bucketing/LWW run on that computed identity, so PK-less or
    # null-key rows merge correctly on their UK.
    unique_keys: list = field(default_factory=list)
    write_mode: str = "cow"  # "cow" (read+rewrite touched buckets) | "mor" (append deltas)
    # merge-on-read delta files [ {path, schema_version, delta} ]: any
    # bucket's rows in any file (Iceberg's unpartitioned delete files)
    deltas: list[dict] = field(default_factory=list)
    applied_ddl: list[dict] = field(default_factory=list)
    # obsolete-DDL gate: max (file_seq, pos, suffix) applied so far —
    # the gate only needs the high water mark, so applied_ddl can stay
    # a bounded tail window instead of a decade of history
    ddl_high_water: list = field(default_factory=lambda: [-1, -1, -1])
    lineage: list[dict] = field(default_factory=list)
    totals: dict = field(default_factory=dict)
    checkpoint: dict = field(default_factory=dict)  # {file_seq, pos} global point
    # per-source-table applied locations (the reference's TablePoint,
    # syncer/checkpoint.go: tables progress independently during shard
    # coordination / resync; IsOlderThanTablePoint gates obsolete DMLs).
    # source_table -> [file_seq, pos]; bounded by the source-table count.
    table_points: dict = field(default_factory=dict)
    # chunk id (str) -> relative path of the bucket-chunk file holding
    # that range's file lists (manifest-of-manifests: the per-commit
    # manifest stays O(1); only chunks with touched buckets rewrite)
    bucket_chunks: dict = field(default_factory=dict)
    # change feed (CDC-out, the Delta CDF analog): when enabled, every
    # DML merge records its applied change rows so downstream consumers
    # can read incremental deltas instead of rescanning the table.
    # version (str) -> [ {path, schema_version, delta} ]; pruned by
    # prune_changes() — a production deployment keeps a bounded
    # retention window, exactly like Delta CDF.
    change_feed: bool = False
    change_log: dict = field(default_factory=dict)
    # retention floor: versions < this have had their change entries
    # pruned — a consumer asking for them must fail loudly, not
    # silently skip a window (the Delta CDF out-of-retention error)
    changes_pruned_below: int = 1
    # per-commit fencing token (ADVICE r04 #2): stamped fresh by every
    # _commit; the pre-HEAD-swap re-read proves the manifest on disk is
    # still THIS writer's after a stall past the orphan grace window
    writer_token: str = ""

    def fields(self) -> list[dict]:
        return self.schema_history[str(self.schema_version)]


_NORM_LONG = {"boolean", "tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"}
_NORM_DOUBLE = {"float", "double"}
_NORM_TS = {"date", "timestamp", "timestamp_ntz"}


def _norm_class(t: str) -> str:
    """Widest type of a column's widening class — the bucket hash is
    computed on this so in-class widenings (int -> bigint) never
    re-bucket existing data."""
    t = t.lower()
    if t in _NORM_LONG:
        return "long"
    if t in _NORM_DOUBLE or t.startswith("decimal"):
        return "double"
    if t in _NORM_TS:
        return "timestamp"
    return "string"


def _norm_key_cols(key: list[str], fields: list[dict]) -> list:
    """Normalize key columns by their ACTUAL declared type class (ADVICE
    r01: the old rule cast key[1:] to long unconditionally, so a second
    string key column became NULL and distinct keys silently collided in
    bucketing and LWW)."""
    types = {f["name"]: f["type"] for f in fields}
    return [F.col(k).cast(_norm_class(types.get(k, "string"))) for k in key]


def _merge_key_exprs(meta: "_Meta") -> list:
    """The column expressions the merge buckets, shuffles and LWW-groups
    on. Plain tables: the declared PK normalized by widening class.
    Tables with `unique_keys`: ONE canonical ladder-identity string
    (PK rung if the row's PK components are all non-null, else the
    first all-non-null UK, else the full row) — the reference's per-row
    WHERE-identity selection (syncer/dml.go:260-318) driving the merge
    key itself. Normalization casts keep in-class widenings (int ->
    bigint) from moving rows across buckets in either mode."""
    fields = meta.fields()
    if meta.unique_keys:
        cast_to = {f["name"]: _norm_class(f["type"]) for f in fields}
        # labels are STABLE field ids, not names — a rename must not
        # re-render (and so re-bucket) every row's identity
        labels = {f["name"]: str(f["id"]) for f in fields}
        return [
            ladder_identity_expr(
                meta.key,
                [list(uk) for uk in meta.unique_keys],
                [f["name"] for f in fields],
                cast_to=cast_to,
                labels=labels,
            )
        ]
    return _norm_key_cols(meta.key, fields)


_CHANGE_TYPES = {"op": "string", "_cdc_ts": "timestamp", "_cdc_file_seq": "bigint", "_cdc_pos": "bigint"}


class _Shape:
    """Every Column a table's writes and reads are built from, compiled
    once per table shape (schema fields, key, unique_keys)
    — as the reference resolves a table's schema once through its
    tracker and reuses it for every event (syncer/syncer.go:2021,
    getTableInfo :673-716). A Column costs several py4j round trips:
    rebuilding these per micro-batch was ~1,000 round trips before the
    merge's first Spark job. Observations stay fresh per action."""

    def __init__(self, meta: "_Meta"):
        self._fields = meta.fields()
        self.key_exprs = _merge_key_exprs(meta)
        nkeys = [f"__k{i}" for i in range(len(self.key_exprs))]
        self.payload_cols = [F.col(f["name"]) for f in self._fields]
        self.lineage_cols = [F.col(c) for c in LINEAGE_COLS]
        sel = [*self.payload_cols, F.col("op"), *self.lineage_cols]
        # the normalized merge keys ride as columns so the shuffle and
        # the LWW group reuse one evaluation
        self._keyed = sel + [c.alias(n) for n, c in zip(nkeys, self.key_exprs)]
        self._slots = [F.col(n) for n in nkeys]
        desc = [F.col(c).desc() for c in LINEAGE_COLS]
        self._rn = F.row_number().over(Window.partitionBy(*self._slots).orderBy(*desc))
        self._first = F.col("__rn") == 1
        self._not_delete = F.col("op") != "D"
        self._out = self.payload_cols + self.lineage_cols
        # merge-on-read reads resolve base+delta on the key expressions
        self._read_rn = F.row_number().over(
            Window.partitionBy(*self.key_exprs).orderBy(*desc)
        )
        self._read_keep = (F.col("__rn") == 1) & self._not_delete
        # incoming-batch stats, observed on (or aggregated over) the batch
        self.in_aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("nd"),
            F.max(F.struct("_cdc_file_seq", "_cdc_pos")).alias("loc"),
            F.max("_cdc_ts").alias("mts"),
        ]
        self.rows_agg = F.count(F.lit(1)).alias("rows")
        self._ins: dict[tuple, list] = {}
        self._cow_aggs: dict[int, list] = {}
        self._projections: dict[tuple, tuple] = {}

    def ins(self, in_cols: tuple[str, ...]) -> list:
        """Select list turning an incoming change batch with columns
        `in_cols` into exactly payload + op + lineage. Schema-evolution
        tolerance: a source still emitting the old shape fills columns
        added downstream — with the column's declared literal DEFAULT
        when it has one, else NULL — and payload types are cast to the
        current schema (downstream_more_column / widen scenarios in the
        reference's suites; the reference's generated INSERT simply
        omits unknown columns and the downstream TiDB applies ITS
        default, syncer/dml.go — the default-fill mirrors that exactly).
        Lineage is cast to its declared types so every data file's
        physical schema is the one its manifest entry declares."""
        cols = self._ins.get(in_cols)
        if cols is None:
            have = set(in_cols)
            cols = [
                (F.col(f["name"]) if f["name"] in have else F.lit(f.get("default")))
                .cast(f["type"]).alias(f["name"])
                for f in self._fields
            ] + [F.col(c).cast(_CHANGE_TYPES[c]).alias(c) for c in ["op"] + LINEAGE_COLS]
            self._ins[in_cols] = cols
        return cols

    def cow_aggs(self, n_buckets: int) -> list:
        """`in_aggs` plus the set of bucket ids the batch touches
        (`bks`), the stats of a copy-on-write merge. Bucket id ==
        Spark's own shuffle slot for `repartition(B, keys)`: both are
        pmod(murmur3(keys), B). This identity lets the merge write FLAT
        parquet (no dynamic-partition writer, ~2x faster commit) — the
        output task index IS the bucket id, recovered from part-NNNNN
        file names for the manifest."""
        aggs = self._cow_aggs.get(n_buckets)
        if aggs is None:
            b = F.pmod(F.hash(*self.key_exprs), F.lit(n_buckets)).cast("int")
            aggs = self._cow_aggs[n_buckets] = [F.collect_set(b).alias("bks"), *self.in_aggs]
        return aggs

    def lww(self, df: DataFrame, n_buckets: int) -> DataFrame:
        """The one LWW write plan of merge, compaction and rescale: key
        the payload + op + lineage rows, repartition them on the keys
        (slot == bucket, see `bucket`), keep each key's newest row by
        (ts, file_seq, pos) and drop tombstone winners. One shuffle:
        the row_number window reuses the repartition."""
        rep = df.select(*self._keyed).repartition(n_buckets, *self._slots)
        res = rep.withColumn("__rn", self._rn).where(self._first)
        return res.where(self._not_delete).select(*self._out)

    def resolve_read(self, df: DataFrame) -> DataFrame:
        """Merge-on-read resolution at read time: each key's newest row
        across base + delta files, tombstones dropped (keeps `__rn`)."""
        return df.withColumn("__rn", self._read_rn).where(self._read_keep)

    def projection(self, meta: "_Meta", sv: int, is_delta: bool, extra: bool, with_op: bool):
        """(file schema DDL, select list) reading files written under
        schema version `sv` in the current shape, by field id: a rename
        aliases, an add fills the literal DEFAULT (MySQL existing-row
        backfill) or NULL, a widen casts. The file schema is the one
        the writer cast to, so the read never infers it."""
        old_fields = meta.schema_history[str(sv)]
        pk = (sv, is_delta, extra, with_op, json.dumps(old_fields, sort_keys=True))
        hit = self._projections.get(pk)
        if hit is None:
            old = {f["id"]: f for f in old_fields}
            cols = []
            for f_ in self._fields:
                o = old.get(f_["id"])
                src = F.lit(f_.get("default")) if o is None else F.col(o["name"])
                cols.append(src.cast(f_["type"]).alias(f_["name"]))
            if extra:
                cols += self.lineage_cols
            if with_op:
                cols.append(F.col("op") if is_delta else F.lit("I").alias("op"))
            stored = [(f["name"], f["type"]) for f in old_fields]
            stored += [(c, _CHANGE_TYPES[c]) for c in LINEAGE_COLS]
            if is_delta:
                stored.append(("op", "string"))
            ddl = ", ".join(f"`{n}` {t}" for n, t in stored)
            hit = self._projections[pk] = (ddl, cols)
        return hit


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "_meta")
        self.data_dir = os.path.join(path, "data")
        self._shapes: dict[str, _Shape] = {}

    def _shape(self, meta: _Meta) -> _Shape:
        """The compiled expressions of `meta`'s shape (keeps the last few)."""
        k = json.dumps(
            [meta.fields(), meta.key, meta.unique_keys], sort_keys=True
        )
        shape = self._shapes.get(k)
        if shape is None:
            if len(self._shapes) >= 4:
                self._shapes.pop(next(iter(self._shapes)))
            shape = self._shapes[k] = _Shape(meta)
        return shape

    # ------------------------------------------------------------- meta
    def _head_version(self) -> int:
        with open(os.path.join(self.meta_dir, "HEAD")) as f:
            return int(f.read().strip())

    # bucket lists are sharded over this many chunk files; a commit only
    # rewrites chunks whose buckets changed — commit cost is O(touched
    # buckets + n_buckets/CHUNKS), flat in table history and in total
    # file count (Iceberg's manifest-list shape)
    META_CHUNKS = 32

    def _n_chunks(self, n_buckets: int) -> tuple[int, int]:
        per = max(1, (n_buckets + self.META_CHUNKS - 1) // self.META_CHUNKS)
        return (n_buckets + per - 1) // per, per

    def _load_meta(self, version: int | None = None) -> _Meta:
        v = self._head_version() if version is None else version
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            d = json.loads(f.read())
        d.setdefault("buckets", {})
        meta = _Meta(**d)
        if meta.applied_ddl and tuple(meta.ddl_high_water) == (-1, -1, -1):
            # manifest written before ddl_high_water existed: derive it
            # (applied_ddl is strictly increasing in location)
            last = meta.applied_ddl[-1]
            meta.ddl_high_water = [last["file_seq"], last["pos"], last.get("suffix", 0)]
        for rel in meta.bucket_chunks.values():
            with open(os.path.join(self.meta_dir, rel)) as f:
                meta.buckets.update(json.load(f))
        meta._loaded_from = v  # noqa: SLF001 — concurrency guard anchor
        return meta

    def _commit(self, meta: _Meta, dirty: set[int] | None = None) -> None:
        """Atomic: dirty bucket-chunk files, then the manifest, then the
        HEAD pointer rename-swap. `dirty` = bucket ids whose file lists
        changed (None = all, e.g. create/overwrite); untouched chunks
        keep their existing chunk-file paths, so the per-commit write is
        independent of the table's total file count.

        Optimistic concurrency: the commit refuses if HEAD moved since
        this meta was loaded (a second writer committed). The
        check-then-swap window is not atomic on a plain filesystem — a
        real deployment gets the true CAS from the Iceberg/catalog
        commit — but it converts silent clobbering into a loud error."""
        # bounded metadata (VERDICT r02 #3): the obsolete-DDL gate needs
        # only ddl_high_water, so applied_ddl keeps a tail window; schema
        # versions no longer referenced by any live data file are
        # dropped (the field-id projection needs exactly the live set) —
        # a decade of hourly DDL no longer inflates every commit
        meta.applied_ddl = meta.applied_ddl[-200:]
        self._prune_schema_history(meta)
        loaded = getattr(meta, "_loaded_from", None)
        if loaded is not None and self.exists:
            cur = self._head_version()
            if cur != loaded:
                raise RuntimeError(
                    f"concurrent commit detected: HEAD moved v{loaded} -> v{cur} "
                    "while this writer held the snapshot; reload and retry"
                )
        os.makedirs(os.path.join(self.meta_dir, "chunks"), exist_ok=True)
        n_chunks, per = self._n_chunks(meta.n_buckets)
        if dirty is None:
            dirty_chunks = set(range(n_chunks))
        else:
            dirty_chunks = {b // per for b in dirty}
        dirty_chunks |= {c for c in range(n_chunks) if str(c) not in meta.bucket_chunks}
        for c in sorted(dirty_chunks):
            data = {
                str(b): meta.buckets.get(str(b), [])
                for b in range(c * per, min((c + 1) * per, meta.n_buckets))
            }
            rel = os.path.join("chunks", f"v{meta.version}-c{c}-{uuid.uuid4().hex[:8]}.json")
            with open(os.path.join(self.meta_dir, rel), "w") as f:
                json.dump(data, f)
            meta.bucket_chunks[str(c)] = rel
        # fresh fencing token per commit attempt: the manifest payload
        # carries it so the pre-swap re-read below can prove the file is
        # still OURS (a writer stalled past the orphan grace window may
        # have been reclaimed by a concurrent committer)
        meta.writer_token = uuid.uuid4().hex
        payload = {
            k: v
            for k, v in meta.__dict__.items()
            if k != "buckets" and not k.startswith("_")
        }
        mp = os.path.join(self.meta_dir, f"v{meta.version}.json")
        # mode 'x': the manifest file itself is the unique claim on this
        # version — two writers racing past the HEAD check cannot both
        # write v{N+1}.json; the loser fails loudly instead of silently
        # clobbering the winner's manifest (ADVICE r02)
        try:
            with open(mp, "x") as f:
                json.dump(payload, f, indent=1)
        except FileExistsError:
            # ADVICE r03 #2: a crash between the manifest write and the
            # HEAD swap leaves an orphan v{N+1}.json that would wedge
            # every future commit. Distinguish the three cases by HEAD:
            # HEAD >= N+1 -> we genuinely lost a race (another writer
            # committed); HEAD < N+1 and the file is fresh -> a live
            # writer may be mid-swap this instant (the narrow window the
            # docstring discloses); HEAD < N+1 and the file is old -> a
            # crashed writer's orphan: reclaim it and commit.
            head = self._head_version() if self.exists else -1
            if head >= meta.version:
                raise RuntimeError(
                    f"concurrent commit detected: v{meta.version} manifest "
                    f"already committed (HEAD=v{head}); reload and retry"
                ) from None
            try:
                age = time.time() - os.path.getmtime(mp)
            except OSError:
                # the orphan vanished under us: another writer is
                # mid-reclaim of this same version — we lost
                raise RuntimeError(
                    f"concurrent commit detected: v{meta.version} orphan "
                    "reclaimed by another writer; reload and retry"
                ) from None
            if age < _ORPHAN_MANIFEST_GRACE_SEC:
                raise RuntimeError(
                    f"manifest v{meta.version}.json exists above HEAD=v{head} "
                    f"and is {age:.1f}s old — possible writer mid-commit; "
                    "retry after the grace window (orphans are reclaimed "
                    f"automatically after {_ORPHAN_MANIFEST_GRACE_SEC}s)"
                ) from None
            # claim the reclaim by ATOMIC RENAME: exactly one concurrent
            # reclaimer wins (a remove + re-create window would let the
            # loser delete the winner's fresh manifest and both "commit")
            try:
                os.rename(mp, f"{mp}.orphan-{uuid.uuid4().hex[:8]}")
            except OSError:
                raise RuntimeError(
                    f"concurrent commit detected: v{meta.version} orphan "
                    "reclaimed by another writer; reload and retry"
                ) from None
            with open(mp, "x") as f:
                json.dump(payload, f, indent=1)
        if _COMMIT_STALL_HOOK is not None:
            _COMMIT_STALL_HOOK(self, meta)  # test-only failpoint
        # fencing re-read IMMEDIATELY before the HEAD swap (ADVICE r04
        # #2): a writer stalled >grace between its mode-'x' manifest
        # write and the swap (GC pause / SIGSTOP / VM stall) can have
        # its v{N}.json renamed away and REPLACED by a concurrent
        # reclaimer — swapping HEAD anyway would point HEAD at the
        # reclaimer's manifest while this writer returns success, and
        # its batch would be silently discarded. The manifest on disk
        # must still carry OUR token.
        try:
            with open(mp) as f:
                on_disk_token = json.load(f).get("writer_token")
        except (OSError, json.JSONDecodeError) as e:
            raise RuntimeError(
                f"commit fencing: manifest v{meta.version}.json unreadable "
                f"immediately before HEAD swap ({e}); this batch did NOT "
                "commit — reload and retry"
            ) from e
        if on_disk_token != meta.writer_token:
            raise RuntimeError(
                f"commit fencing: manifest v{meta.version}.json was "
                "reclaimed by a concurrent writer (this writer stalled "
                f"past the {_ORPHAN_MANIFEST_GRACE_SEC}s orphan grace "
                "window); this batch did NOT commit — reload and retry"
            )
        tmp = os.path.join(self.meta_dir, f".HEAD.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(meta.version))
        os.replace(tmp, os.path.join(self.meta_dir, "HEAD"))

    @property
    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, "HEAD"))

    @property
    def write_mode(self) -> str:
        return self._load_meta().write_mode

    # ------------------------------------------------------------ create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: list[tuple[str, str]],
        key: list[str],
        n_buckets: int = 32,
        write_mode: str = "cow",
        unique_keys: list[list[str]] | None = None,
        change_feed: bool = False,
    ) -> "LakeTable":
        """schema: [(name, spark simpleString type), ...]; key ⊆ schema.

        `unique_keys`: ordered fallback unique keys for tables whose PK
        components may be null (shard merges with heterogeneous
        indexes). When set, each row's merge identity is picked by the
        reference's ladder — PK if usable, else the first all-non-null
        UK, else the full row (syncer/dml.go:260-318) — see
        :func:`_merge_key_exprs`.

        `change_feed=True`: every DML merge also records the batch's
        change rows (op + payload + lineage), readable incrementally
        via :meth:`changes` — the lake re-emits CDC so downstream
        pipelines chain without full rescans. MoR tables get this for
        FREE (the batch's delta files are the change set); CoW tables
        pay one extra flat write of the batch."""
        t = cls(spark, path)
        if t.exists:
            raise ValueError(f"table already exists at {path}")
        fields = [{"id": i + 1, "name": n, "type": ty} for i, (n, ty) in enumerate(schema)]
        names = [f["name"] for f in fields]
        if not key and not unique_keys:
            raise ValueError("a table needs a key or unique_keys (or both)")
        for k in key:
            if k not in names:
                raise ValueError(f"key column {k} not in schema")
        for uk in unique_keys or []:
            for k in uk:
                if k not in names:
                    raise ValueError(f"unique key column {k} not in schema")
        meta = _Meta(
            version=0,
            schema_version=0,
            key=list(key),
            n_buckets=n_buckets,
            next_field_id=len(fields) + 1,
            schema_history={"0": fields},
            buckets={str(b): [] for b in range(n_buckets)},
            totals={"rows_upserted": 0, "rows_deleted": 0, "batches": 0},
            write_mode=write_mode,
            unique_keys=[list(uk) for uk in unique_keys or []],
            change_feed=change_feed,
        )
        t._commit(meta)
        return t

    # -------------------------------------------------------------- read
    def _read_files(
        self, meta: _Meta, entries: list[dict], with_lineage: bool, with_op: bool = False
    ) -> DataFrame | None:
        """One scan per (schema version, delta) group of `entries`,
        projected to the current schema. The manifest names every file
        and its schema, so the read passes the schema and lists paths
        driver-side: above 32 explicit paths Spark would otherwise run a
        listing job (one task per path) and a schema-inference job."""
        if not entries:
            return None
        shape = self._shape(meta)
        by_grp: dict[tuple, list[str]] = {}
        for e in entries:
            by_grp.setdefault((e["schema_version"], bool(e.get("delta"))), []).append(e["path"])
        parts = []
        with _session_conf(self.spark, _LISTING_THRESHOLD, str(2**31 - 1)):
            for (sv, is_delta), paths in by_grp.items():
                ddl, cols = shape.projection(meta, sv, is_delta, with_lineage, with_op)
                parts.append(self.spark.read.schema(ddl).parquet(*paths).select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _data_entries(meta: _Meta) -> list[dict]:
        """Every live data file: each bucket's base files, then deltas."""
        return [e for lst in meta.buckets.values() for e in lst] + meta.deltas

    def read(self, version: int | None = None) -> DataFrame:
        """Current (or time-travel) table contents as a DataFrame.

        CoW tables read files as-is. If merge-on-read delta files are
        present, the read resolves LWW across base+delta and drops
        tombstones (Iceberg MoR / position-delete semantics, done with
        one shuffle)."""
        meta = self._load_meta(version)
        has_delta = bool(meta.deltas)
        df = self._read_files(
            meta, self._data_entries(meta), with_lineage=has_delta, with_op=has_delta
        )
        if df is None:
            ddl = ", ".join(f"{f['name']} {f['type']}" for f in meta.fields())
            return self.spark.createDataFrame([], ddl)
        if has_delta:
            shape = self._shape(meta)
            df = shape.resolve_read(df).select(*shape.payload_cols)
        return df

    def schema_fields(self) -> list[dict]:
        return self._load_meta().fields()

    @staticmethod
    def _changes_ddl(meta: _Meta) -> str:
        """The change-row schema string: payload + op + lineage — what
        snapshot_changes and changes return when there is nothing to
        read, in the shape of a full result."""
        cols = [(f["name"], f["type"]) for f in meta.fields()] + list(_CHANGE_TYPES.items())
        return ", ".join(f"{n} {t}" for n, t in cols)

    def snapshot_changes(self) -> DataFrame:
        """The CURRENT table state re-expressed as an insert-only change
        batch carrying each row's ORIGINAL lineage (_cdc_ts/file_seq/
        pos) — the consumer re-bootstrap payload for a replica that
        fell out of the change-feed retention window. Keeping the
        original lineage matters: a bootstrap with fresh/null lineage
        would lose LWW to any later redelivered old event and silently
        regress the replica. CoW base files store lineage as written;
        MoR resolves base+delta LWW first (tombstones dropped)."""
        meta = self._load_meta()
        payload = [f["name"] for f in meta.fields()]
        df = self._read_files(meta, self._data_entries(meta), with_lineage=True, with_op=True)
        if df is None:
            return self.spark.createDataFrame([], self._changes_ddl(meta))
        if meta.deltas:
            df = self._shape(meta).resolve_read(df)
        return df.select(*payload, F.lit("I").alias("op"), *LINEAGE_COLS)

    def changes(self, from_version: int = 1, to_version: int | None = None) -> DataFrame:
        """Incremental change rows merged between versions (inclusive
        bounds) — the lake re-emitting CDC, the Delta CDF analog. Rows:
        current payload + `op` ('I'|'U'|'D') + lineage
        (`_cdc_ts`, `_cdc_file_seq`, `_cdc_pos`) — exactly
        :meth:`merge_into`'s input shape, so a downstream lake chains
        with `lake2.merge_into(lake1.changes(k))` and converges to the
        same state (LWW on the same lineage ordering; pinned in
        tests/test_change_feed).
        Both write modes emit each merge's whole batch: in-batch
        superseded rows and rows that lose LWW to stored state emit
        too, and lose LWW downstream the same way.

        Scale shape: ALL files in the window coalesce into one scan per
        schema group, so the plan stays O(1) in window size — a replica
        catching up over thousands of versions reads them in one plan.
        Files are projected to the current schema by field id — changes
        written before a DDL read back in today's shape. Versions
        without DML (DDL/compact/rescale commits) simply have no rows."""
        meta = self._load_meta()
        if not meta.change_feed:
            raise ValueError("change feed not enabled on this table (create(change_feed=True))")
        if max(1, from_version) < meta.changes_pruned_below:
            raise ValueError(
                f"change feed pruned below v{meta.changes_pruned_below}: cannot read "
                f"from v{from_version} — the consumer fell out of the retention "
                "window; re-bootstrap it from a table snapshot"
            )
        to_v = meta.version if to_version is None else to_version
        ents = [
            e for v in range(max(1, from_version), to_v + 1)
            for e in meta.change_log.get(str(v), [])
        ]
        df = self._read_files(meta, ents, with_lineage=True, with_op=True)
        return df if df is not None else self.spark.createDataFrame([], self._changes_ddl(meta))

    def prune_changes(self, before_version: int) -> int:
        """Drop change-log entries for versions < before_version (the
        CDF retention window); CoW change files are deleted now and
        their dirs by the next vacuum(), MoR delta files are freed by
        the next vacuum() once unreferenced.

        Consumer contract: a consumer behind the new floor fails loudly
        on its next changes() read ("pruned below") and re-bootstraps
        from a snapshot (dm_spark.streaming.bootstrap_replica)."""
        meta = self._load_meta()
        doomed: list[str] = []
        for v in [v for v in meta.change_log if int(v) < before_version]:
            for e in meta.change_log.pop(v):
                if e["path"].startswith(os.path.join(self.path, "_changes")):
                    doomed.append(e["path"])
        meta.changes_pruned_below = max(meta.changes_pruned_below, before_version)
        meta.version += 1
        # metadata-first, like every other commit: the manifest stops
        # referencing the files BEFORE they vanish. A crash (or a lost
        # optimistic-concurrency race) after the commit leaves orphan
        # files that vacuum() collects; deleting first would leave HEAD
        # pointing at missing files and consumers would hit
        # file-not-found instead of the designed "pruned below" error.
        self._commit(meta, dirty=set())
        removed = 0
        for p in doomed:
            if os.path.exists(p):
                os.remove(p)
                removed += 1
        return removed

    # ------------------------------------------------------------- merge
    def merge_into(
        self,
        changes: DataFrame,
        batch_id: int | None = None,
        stream_id: str | None = None,
        pre_reduce: int | None = None,
        table_points: dict | None = None,
        epoch: int = 0,
    ) -> MergeStats:
        """Apply a batch of change rows with LWW upsert/delete semantics.

        `changes` columns: current payload schema + `op` ('I'|'U'|'D') +
        `_cdc_ts` timestamp, `_cdc_file_seq` long, `_cdc_pos` long.
        Single shuffle: repartition on the normalized key so the shuffle
        slot equals the bucket id; the LWW window reuses that shuffle.

        Copy-on-write merges rewrite only the buckets the batch touches.
        When it can narrow the merge (see `_prune_pays`), a pre-pass job
        finds the touched buckets so only their base files are read and
        rewritten — cost proportional to touched data, the
        partition-level CoW that keeps continuous upserts viable on a
        10^10-row table. It cannot narrow a merge into a table with no
        base files, and is skipped after a merge that touched every
        bucket (the next one most likely does too). Without it the batch
        and every base file go through the one merge-write job, whose
        observed metrics carry the batch stats and touched buckets;
        untouched buckets keep their old files (their rewrites, equal
        to their base under LWW, are dropped before the commit). Both
        paths commit the same manifest; a skipped pre-pass that would
        have pruned costs one rewrite of the untouched buckets, never
        correctness, and the observed touch count (recorded even for a
        batch that touched nothing) lets the next merge prune again.

        Tombstone semantics, disclosed: the CoW write drops delete
        winners at commit (no stored tombstone), so a redelivered
        pre-delete event CAN transiently resurrect a deleted row; the
        final state still converges because redelivery is always a
        contiguous location range replayed to the end (fresh-checkpoint
        and crash replays alike), which re-delivers the delete too —
        pinned in test_fresh_checkpoint_redelivery_converges. A source
        that can redeliver an isolated historical range mid-history
        (not a suffix) needs `write_mode="mor"`, which retains
        tombstones until compact().

        `pre_reduce=N` (pathological hot keys): the incoming batch is
        first collapsed to one winner per key via salted two-phase LWW
        (N salts), so a key updated millions of times in one batch
        contributes ONE row to the merge shuffle instead of millions —
        the reference's planned Compactor (merge I+U -> I,
        docs/RFCS/20211008_dml_execution_optimization.md:12-49) fused
        with salting for skew. Tombstone winners survive the reduction.

        `epoch=N` (source failover): declares the upstream binlog epoch
        this batch belongs to — after a re-master restarts file_seq at
        0, passing the next epoch ordinal lets the REPORTED global
        checkpoint advance as (epoch, file_seq, pos) instead of
        freezing at the old high water (the GTID-set analog; LWW
        correctness never depends on it).
        """
        meta = self._load_meta()
        meta._merge_epoch = int(epoch)  # transient; _commit strips _-keys
        shape = self._shape(meta)
        if pre_reduce:
            from dm_spark.operators.dedup import lww_latest_salted

            if meta.unique_keys:
                # ladder tables pre-reduce on the computed identity (the
                # PK alone would conflate all null-PK rows into one key)
                changes = changes.select(*shape.ins(tuple(changes.columns))).withColumn(
                    "__dm_ident", shape.key_exprs[0]
                )
                changes = lww_latest_salted(
                    changes, ["__dm_ident"], LINEAGE_COLS, n_salts=pre_reduce
                ).drop("__dm_ident")
            else:
                changes = lww_latest_salted(
                    changes, meta.key, LINEAGE_COLS, n_salts=pre_reduce
                )
        if stream_id is not None and stream_id != meta.stream_id:
            # a new streaming query (fresh checkpoint) restarts batch ids
            # at 0; the monotone gate is only valid within one stream.
            # Cross-stream duplicate delivery is handled by LWW instead.
            meta.stream_id = stream_id
            meta.last_batch_id = -1
        if batch_id is not None and batch_id <= meta.last_batch_id:
            return MergeStats(version=meta.version, batch_id=batch_id, skipped=True)
        if table_points:
            # per-source-table applied locations ride the same atomic
            # commit (TablePoint analog, syncer/checkpoint.go) — only
            # ever advance
            for t, loc in table_points.items():
                prev = meta.table_points.get(t)
                cand = [int(loc[0]), int(loc[1])]
                if prev is None or tuple(prev) < tuple(cand):
                    meta.table_points[t] = cand

        with _merge_aqe_off(changes.sparkSession):
            if meta.write_mode == "mor":
                return self._merge_mor(changes, meta, batch_id)
            prune = self._prune_pays(meta)
            if not (prune or meta.change_feed):
                # one pass over the batch: nothing to cache
                return self._merge_cow(changes, meta, batch_id, prune)
            # the pre-pass and the change-feed write each read the batch
            # again — persist so an expensive upstream (pandas-UDF wire
            # decode) runs once. MEMORY_AND_DISK: a micro-batch must
            # never OOM the executor at scale.
            changes = changes.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                return self._merge_cow(changes, meta, batch_id, prune)
            finally:
                changes.unpersist()

    @staticmethod
    def _prune_pays(meta: _Meta) -> bool:
        """Whether a touched-bucket pre-pass can narrow a CoW merge: not
        into a table with no base files, nor after a CoW merge that
        touched every bucket. A pre-pass that cannot prune costs a job,
        a cache fill and a driver gap; a wrong guess costs one rewrite
        that the next merge's observed touch count corrects."""
        if not any(meta.buckets.values()):
            return False
        last = next((r for r in reversed(meta.lineage) if r.get("mode") == "cow"), None)
        return last is None or last["buckets_touched"] < meta.n_buckets

    def _commit_files(self, out: DataFrame, meta: _Meta, allowed: list[int] | None):
        """Write `out` flat into a new commit dir. Base files: return
        bucket -> new file entries by the slot==bucket identity,
        refusing buckets outside `allowed`. `allowed=None` (a
        merge-on-read delta append, any bucket's rows in any file):
        return the list of delta entries."""
        commit_dir = os.path.join(self.data_dir, f"commit-{meta.version + 1}-{uuid.uuid4().hex[:8]}")
        out.write.mode("errorifexists").parquet(commit_dir)
        files = _parquet_files_with_rows(commit_dir) if os.path.isdir(commit_dir) else []
        entries = [
            (fn, {"path": os.path.join(commit_dir, fn), "schema_version": meta.schema_version})
            for fn, nrows in files
            if nrows
        ]
        if allowed is None:
            return [{**e, "delta": True} for _fn, e in entries]
        new_lists: dict[str, list[dict]] = {}
        for fn, e in entries:
            new_lists.setdefault(str(int(fn.split("-")[1])), []).append(e)
        stray = [b for b in new_lists if int(b) not in allowed]
        if stray:
            raise RuntimeError(f"bucket/slot identity violated: {stray}")
        return new_lists

    def _merge_mor(self, changes: DataFrame, meta: _Meta, batch_id: int | None) -> MergeStats:
        """Merge-on-read write path: append the batch as-is (tombstones
        and in-batch duplicates kept) as DELTA files, which are also its
        change-feed entry — no shuffle, no base read, one file per input
        partition. Readers, `compact()` and `rescale()` resolve LWW over
        base+delta. One Spark job: stats ride the write as observations."""
        shape = self._shape(meta)
        obs_in = Observation()
        inc = changes.select(*shape.ins(tuple(changes.columns))).observe(obs_in, *shape.in_aggs)
        deltas = self._commit_files(inc, meta, None)
        if meta.change_feed:
            meta.change_log[str(meta.version + 1)] = [dict(e) for e in deltas]
        m = obs_in.get
        stats = MergeStats(
            version=meta.version + 1,
            batch_id=batch_id,
            n_incoming=m["n"],
            n_deletes_in=m["nd"] or 0,
            rows_written=m["n"],
        )
        meta.deltas = meta.deltas + deltas
        self._finish_commit(meta, batch_id, stats, m["loc"], m["mts"], mode="mor", dirty=set())
        return stats

    def compact(self) -> int:
        """Rewrite the buckets holding two or more files into resolved
        base files, dropping tombstones; returns the number rewritten.
        The Iceberg rewrite_data_files maintenance action. Pending delta
        files hold rows of every bucket, so while any exist every bucket
        is rewritten and the delta list cleared."""
        meta = self._load_meta()
        targets = [
            b for b in range(meta.n_buckets)
            if meta.deltas or len(meta.buckets[str(b)]) >= 2
        ]
        if not targets:
            return 0
        entries = [e for b in targets for e in meta.buckets[str(b)]] + meta.deltas
        new_lists = self._rewrite_base(meta, entries, targets)
        for b in targets:
            meta.buckets[str(b)] = new_lists.get(str(b), [])
        meta.deltas = []
        meta.version += 1
        meta.lineage.append({"version": meta.version, "compacted_buckets": len(targets)})
        meta.lineage = meta.lineage[-200:]
        self._commit(meta, dirty=set(targets))
        return len(targets)

    def _rewrite_base(self, meta: _Meta, entries: list[dict], targets: list[int]) -> dict:
        """LWW-resolve `entries` into base files (no tombstones) of the
        buckets `targets`; bucket -> new file entries."""
        base = self._read_files(meta, entries, with_lineage=True, with_op=True)
        if base is None:
            return {}
        with _merge_aqe_off(base.sparkSession):
            out = self._shape(meta).lww(base, meta.n_buckets)
            return self._commit_files(out, meta, targets)

    def rescale(self, n_buckets: int) -> int:
        """Re-bucket the table to a new bucket count — the grow/split
        story for a long-lived table whose buckets outgrew their target
        size (Iceberg: replacing the bucket[N] partition spec; here a
        full LWW-resolved rewrite under the new count, one atomic
        commit). Readers and in-flight merges against the old HEAD stay
        valid; the next merge picks up the new count from the manifest.
        """
        meta = self._load_meta()
        if n_buckets == meta.n_buckets:
            return meta.version
        entries = self._data_entries(meta)
        old_count = meta.n_buckets
        meta.n_buckets = n_buckets
        meta.bucket_chunks = {}  # chunk geometry changes with the count
        new_lists = self._rewrite_base(meta, entries, list(range(n_buckets)))
        meta.buckets = {str(b): new_lists.get(str(b), []) for b in range(n_buckets)}
        meta.deltas = []
        meta.version += 1
        meta.lineage.append(
            {"version": meta.version, "rescaled_from": old_count, "n_buckets": n_buckets}
        )
        meta.lineage = meta.lineage[-200:]
        self._commit(meta)  # all chunks dirty under the new geometry
        return meta.version

    def _advance_checkpoint(self, meta, loc, max_ts) -> None:
        """Monotone global-checkpoint advance on (epoch, file_seq, pos).

        The epoch ordinal (VERDICT r03 #6) closes the GTID remainder's
        monitoring blind spot: a re-mastered upstream restarts file_seq
        at 0 (pkg/binlog/position.go:298-317 orders GTID sets first for
        exactly this), and without an epoch the REPORTED checkpoint
        would freeze at the old high water until the new epoch passed
        it. The operator declares the new epoch via
        `merge_into(epoch=N)` (the analog of configuring GTID mode on
        the new master); row lineage/LWW stay epoch-free by design —
        correctness never depended on location monotonicity."""
        if loc is None:
            return
        epoch = int(getattr(meta, "_merge_epoch", 0))
        prev = meta.checkpoint or {"file_seq": -1, "pos": -1}
        cand = {
            "epoch": epoch,
            "file_seq": int(loc["_cdc_file_seq"]),
            "pos": int(loc["_cdc_pos"]),
        }
        if (
            epoch == prev.get("epoch", 0)
            and prev["file_seq"] >= 0
            and cand["file_seq"] < prev["file_seq"]
        ):
            # file_seq regressed WITHIN an epoch: either a redelivery
            # replay (benign — LWW absorbs it and the checkpoint simply
            # holds) or a source re-master that restarted file numbering
            # — in which case the reported checkpoint will FREEZE at the
            # old high water until the operator declares the next epoch.
            # Surface the remedy loudly instead of relying on the
            # operator to know it (VERDICT r04 #6); auto-incrementing
            # here would mis-order genuine redelivery, so it stays a
            # diagnosed suggestion, not an action.
            import logging

            note = (
                f"checkpoint frozen? batch max file_seq {cand['file_seq']} "
                f"< stored {prev['file_seq']} in epoch {epoch} — if the "
                "source was re-mastered (file numbering restarted), pass "
                f"merge_into(epoch={epoch + 1}) / CdcStreamDriver("
                f"epoch={epoch + 1}); if this is redelivery, no action"
            )
            logging.getLogger("dm_spark.lake").warning("%s: %s", self.path, note)
            meta._checkpoint_note = note  # noqa: SLF001 — transient; _commit strips _-keys
        if (cand["epoch"], cand["file_seq"], cand["pos"]) > (
            prev.get("epoch", 0), prev["file_seq"], prev["pos"],
        ):
            prev_ts = meta.checkpoint.get("max_applied_ts") if meta.checkpoint else None
            cand["max_applied_ts"] = (
                max(str(max_ts), prev_ts) if (max_ts is not None and prev_ts)
                else (str(max_ts) if max_ts is not None else prev_ts)
            )
            meta.checkpoint = cand

    def _finish_commit(self, meta, batch_id, stats, loc, max_ts, mode, dirty=None) -> None:
        meta.version += 1
        if batch_id is not None:
            meta.last_batch_id = batch_id
        self._advance_checkpoint(meta, loc, max_ts)
        meta.totals["batches"] += 1
        meta.totals["rows_upserted"] += stats.n_incoming - stats.n_deletes_in
        meta.totals["rows_deleted"] += stats.n_deletes_in
        rec = {
            "version": meta.version,
            "batch_id": batch_id,
            "n_incoming": stats.n_incoming,
            "n_deletes_in": stats.n_deletes_in,
            "buckets_touched": stats.n_buckets_touched,
            "rows_written": stats.rows_written,
            "mode": mode,
        }
        note = getattr(meta, "_checkpoint_note", None)
        if note:
            # the epoch-regression diagnosis rides the lineage log so a
            # monitoring read surfaces the remedy, not just the freeze
            rec["checkpoint_note"] = note
            meta._checkpoint_note = None
        meta.lineage.append(rec)
        meta.lineage = meta.lineage[-200:]
        self._commit(meta, dirty=dirty)

    def _merge_cow(self, changes, meta, batch_id, prune) -> MergeStats:
        """Copy-on-write write path: LWW-rewrite the touched buckets,
        found by a pre-pass job when `prune` (see `merge_into`)."""
        shape = self._shape(meta)
        changes = changes.select(*shape.ins(tuple(changes.columns)))
        aggs = shape.cow_aggs(meta.n_buckets)
        if prune:
            # pre-pass job: touched buckets + checkpoint + counts
            m = changes.agg(*aggs).collect()[0]
            touched = sorted(m["bks"] or [])
            if not touched:
                return self._commit_empty(meta, batch_id, m["n"], m["nd"])
            inc = changes
        else:
            # one job: every bucket in play; stats ride the write job
            touched = list(range(meta.n_buckets))
            obs_in = Observation()
            inc = changes.observe(obs_in, *aggs)

        base_entries = [e for b in touched for e in meta.buckets[str(b)]]
        base = self._read_files(meta, base_entries, with_lineage=True, with_op=True)
        merged = inc if base is None else inc.unionByName(base)
        obs = Observation()
        out = shape.lww(merged, meta.n_buckets).observe(obs, shape.rows_agg)
        # manifest: part-NNNNN index == bucket id (empty slots write no
        # file; see _Shape.cow_aggs). Touched buckets now point at the
        # new commit's files.
        new_lists = self._commit_files(out, meta, touched)
        rows_written = obs.get["rows"]
        if not prune:
            m = obs_in.get
            touched = sorted(m["bks"] or [])
            # an untouched bucket came out as its own base: it keeps its
            # old files and its rewrite is deleted uncommitted
            for b in set(new_lists) - {str(t) for t in touched}:
                for e in new_lists.pop(b):
                    rows_written -= _drop_part_file(e["path"])
            if not touched:
                return self._commit_empty(meta, batch_id, m["n"], m["nd"])
        stats = MergeStats(
            version=meta.version + 1,
            batch_id=batch_id,
            n_incoming=m["n"],
            n_deletes_in=m["nd"] or 0,
            n_buckets_touched=len(touched),
            rows_written=rows_written,
        )
        if meta.change_feed:
            # CoW change feed: one extra flat write of the incoming
            # batch (op + payload + lineage). merge_into persists the
            # upstream for it, so this is a cheap second read; rows that
            # lose LWW to base state still emit (harmless to LWW
            # consumers — they lose downstream too).
            chdir = os.path.join(
                self.path, "_changes", f"v{meta.version + 1}-{uuid.uuid4().hex[:8]}"
            )
            changes.write.mode("errorifexists").parquet(chdir)
            meta.change_log[str(meta.version + 1)] = [
                {"path": os.path.join(chdir, fn), "schema_version": meta.schema_version,
                 "delta": True}
                for fn, nrows in _parquet_files_with_rows(chdir)
                if nrows > 0
            ]
        for b in touched:
            meta.buckets[str(b)] = new_lists.get(str(b), [])
        self._finish_commit(
            meta, batch_id, stats, m["loc"], m["mts"], mode="cow", dirty=set(touched)
        )
        return stats

    def _commit_empty(self, meta, batch_id, n, nd) -> MergeStats:
        """Commit a CoW batch that touched no bucket: the batch gate and
        batch count advance, and its lineage record's zero touch count
        turns the pre-pass back on for the next merge (an idle target of
        a routed batch would otherwise rewrite every bucket per batch)."""
        stats = MergeStats(
            version=meta.version + 1, batch_id=batch_id, n_incoming=n, n_deletes_in=nd or 0
        )
        self._finish_commit(meta, batch_id, stats, None, None, mode="cow", dirty=set())
        return stats

    # --------------------------------------------------------- overwrite
    def overwrite(self, df: DataFrame) -> int:
        """Full-snapshot load (the load-unit analog, loader/loader.go:566):
        replaces all data with `df` (payload columns only; lineage zeroed).
        """
        meta = self._load_meta()
        # payload cast to the declared types: every data file's physical
        # schema is the one its manifest entry declares (see _read_files)
        out = df.select(
            *[F.col(f["name"]).cast(f["type"]).alias(f["name"]) for f in meta.fields()],
            F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("_cdc_ts"),
            F.lit(-1).cast("long").alias("_cdc_file_seq"),
            F.lit(-1).cast("long").alias("_cdc_pos"),
        )
        out = out.repartition(meta.n_buckets, *self._shape(meta).key_exprs)
        everyone = list(range(meta.n_buckets))
        new_lists = self._commit_files(out, meta, everyone)
        meta.buckets = {str(b): new_lists.get(str(b), []) for b in everyone}
        meta.deltas = []
        meta.version += 1
        self._invalidate_change_consumers(meta)
        self._commit(meta)
        return meta.version

    def truncate(self) -> int:
        """TRUNCATE TABLE: one snapshot commit that empties every bucket
        (schema, key and checkpoint preserved; prior snapshots remain
        time-travelable until vacuum)."""
        meta = self._load_meta()
        meta.buckets = {str(b): [] for b in range(meta.n_buckets)}
        meta.deltas = []
        meta.version += 1
        meta.lineage.append({"version": meta.version, "truncated": True})
        meta.lineage = meta.lineage[-200:]
        self._invalidate_change_consumers(meta)
        self._commit(meta)  # every chunk rewrites (all buckets changed)
        return meta.version

    @staticmethod
    def _invalidate_change_consumers(meta: _Meta) -> None:
        """A non-DML state reset (TRUNCATE / full-snapshot overwrite)
        cannot be expressed as change rows — raise the retention floor
        past it so every change-feed consumer fails loudly ("pruned
        below") and re-bootstraps from the new state, instead of
        polling past the reset and silently keeping pre-reset rows
        forever."""
        if meta.change_feed:
            meta.changes_pruned_below = meta.version + 1

    # --------------------------------------------------------------- ddl
    def apply_ddl(self, action: dict) -> bool:
        """Apply one schema action; returns False if obsolete (already
        applied at-or-before this location — syncer/checkpoint.go:460-488
        gating analog). No data files are rewritten (field-id evolution).

        action: {action: add_column|rename_column|widen_type|drop_column,
                 column, new_name?, new_type?, file_seq, pos, suffix?}

        Locations are (file_seq, pos, suffix) triples compared
        lexicographically — suffix orders user-injected replacement
        events sharing a position (pkg/binlog/position.go:298-317)
        without corrupting the order of later genuine DDLs.
        """
        meta = self._load_meta()
        loc = (action.get("file_seq", 0), action.get("pos", 0), action.get("suffix", 0))
        if tuple(meta.ddl_high_water) >= loc:
            return False
        fields = [dict(f) for f in meta.fields()]
        kind = action["action"]
        names = {f["name"]: f for f in fields}
        if kind == "add_column":
            if action["column"] in names:
                return False
            fld = {"id": meta.next_field_id, "name": action["column"], "type": action["new_type"]}
            if action.get("default") is not None:
                # MySQL/TiDB backfill EXISTING rows with a literal
                # DEFAULT on ADD COLUMN (the reference inherits this by
                # executing the DDL on live TiDB, syncer/syncer.go:
                # 1117-1232); stored on the field so _Shape.projection fills
                # it into files written under pre-DDL schema versions —
                # no data rewrite, same field-id evolution
                fld["default"] = action["default"]
            fields.append(fld)
            meta.next_field_id += 1
        elif kind == "rename_column":
            if action["column"] in meta.key:
                raise ValueError("cannot rename a key column")
            # unique-key columns MAY rename: identity labels are stable
            # field ids, so no row re-buckets — just keep the declared
            # unique_keys in sync with the new name
            meta.unique_keys = [
                [action["new_name"] if c == action["column"] else c for c in uk]
                for uk in meta.unique_keys
            ]
            names[action["column"]]["name"] = action["new_name"]
        elif kind == "widen_type":
            if action["column"] in meta.key or any(
                action["column"] in uk for uk in meta.unique_keys
            ):
                old_t = names[action["column"]]["type"]
                if _norm_class(old_t) != _norm_class(action["new_type"]):
                    raise ValueError(
                        f"widening key column {action['column']} from {old_t} to "
                        f"{action['new_type']} crosses bucket-hash classes and would "
                        "re-bucket existing data"
                    )
            names[action["column"]]["type"] = action["new_type"]
        elif kind == "drop_column":
            if action["column"] in meta.key:
                raise ValueError("cannot drop a key column")
            if any(action["column"] in uk for uk in meta.unique_keys):
                raise ValueError("cannot drop a unique-key identity column")
            fields = [f for f in fields if f["name"] != action["column"]]
        else:
            raise ValueError(f"unknown ddl action {kind}")
        meta.schema_version += 1
        meta.schema_history[str(meta.schema_version)] = fields
        meta.ddl_high_water = list(loc)
        meta.applied_ddl.append(
            {
                "action": kind,
                "column": action.get("column"),
                "new_name": action.get("new_name"),
                "new_type": action.get("new_type"),
                "default": action.get("default"),
                "file_seq": loc[0],
                "pos": loc[1],
                "suffix": loc[2],
                "schema_version": meta.schema_version,
            }
        )
        meta.version += 1
        self._commit(meta, dirty=set())
        return True

    @staticmethod
    def _prune_schema_history(meta: _Meta) -> None:
        live = {e["schema_version"] for e in LakeTable._data_entries(meta)}
        live |= {e["schema_version"] for lst in meta.change_log.values() for e in lst}
        live.add(meta.schema_version)
        meta.schema_history = {
            sv: f for sv, f in meta.schema_history.items() if int(sv) in live
        }

    # ------------------------------------------------------------ maint
    def vacuum(self) -> int:
        """Delete data files and bucket-chunk manifests not referenced
        by the HEAD manifest, and commit dirs left with no live file."""
        meta = self._load_meta()
        live = {e["path"] for e in self._data_entries(meta)}
        # change-feed files stay live until prune_changes drops them
        live |= {e["path"] for lst in meta.change_log.values() for e in lst}
        removed = 0
        # crashed-writer manifests above HEAD (written but never
        # HEAD-swapped) would wedge the next commit's mode-'x' claim;
        # collect them once they age past the mid-commit grace window
        head = self._head_version()
        for fn in os.listdir(self.meta_dir):
            m = re.fullmatch(r"v(\d+)\.json", fn)
            reclaim_trash = ".orphan-" in fn  # renamed-away claims
            if (m and int(m.group(1)) > head) or reclaim_trash:
                p = os.path.join(self.meta_dir, fn)
                if time.time() - os.path.getmtime(p) >= _ORPHAN_MANIFEST_GRACE_SEC:
                    os.remove(p)
                    removed += 1
        chunk_dir = os.path.join(self.meta_dir, "chunks")
        if os.path.isdir(chunk_dir):
            live_chunks = {
                os.path.join(self.meta_dir, rel) for rel in meta.bucket_chunks.values()
            }
            for fn in os.listdir(chunk_dir):
                p = os.path.join(chunk_dir, fn)
                if p not in live_chunks:
                    os.remove(p)
                    removed += 1
        # commit dirs under data/, plus _changes/ dirs orphaned by a crash
        # between the change write and the manifest commit or dropped by
        # prune_changes
        for root in (self.data_dir, os.path.join(self.path, "_changes")):
            removed += self._vacuum_commit_dirs(root, live)
        return removed

    @staticmethod
    def _vacuum_commit_dirs(root: str, live: set[str]) -> int:
        """Delete the parquet files under `root`'s commit dirs that are
        not in `live`; a dir left with no live parquet file goes whole,
        with the `_SUCCESS` and `.crc` files every Spark write leaves
        beside its parts. Returns the number of parquet files deleted."""
        if not os.path.isdir(root):
            return 0
        removed = 0
        for commit in os.listdir(root):
            cdir = os.path.join(root, commit)
            parts = [
                os.path.join(r, fn)
                for r, _dirs, files in os.walk(cdir)
                for fn in files
                if fn.endswith(".parquet")
            ]
            dead = [p for p in parts if p not in live]
            if len(dead) == len(parts):
                shutil.rmtree(cdir, ignore_errors=True)
            else:
                for p in dead:
                    os.remove(p)
            removed += len(dead)
        return removed

    def lineage_log(self) -> list[dict]:
        return self._load_meta().lineage

    def applied_ddl_log(self) -> list[dict]:
        return self._load_meta().applied_ddl

    def ddl_high_water(self) -> tuple[int, int, int]:
        """Max (file_seq, pos, suffix) of any applied schema action —
        the obsolete-DDL gate's watermark."""
        return tuple(self._load_meta().ddl_high_water)

    def stream_position(self, stream_id: str) -> int:
        """The last batch_id merged under `stream_id`, or -1 — the
        batch gate read back as a consumer cursor. Because the gate
        commits atomically WITH each merge, a poller that uses a
        monotone upstream position as its batch_id gets a crash-safe
        resume point for free: no side-channel cursor file can disagree
        with applied state. dm_spark.streaming.replicate_lake_poll is
        that poller; bootstrap_replica plants its cursor."""
        meta = self._load_meta()
        return meta.last_batch_id if meta.stream_id == stream_id else -1

    def totals(self) -> dict:
        return self._load_meta().totals

    def global_checkpoint(self) -> dict:
        cp = self._load_meta().checkpoint
        if cp:
            cp.setdefault("epoch", 0)  # pre-epoch manifests
        return cp

    def replication_lag_sec(self, now=None) -> float | None:
        """secondsBehindMaster analog (syncer/syncer.go:802-845): now
        minus the max applied event timestamp recorded in the committed
        checkpoint (a local manifest read). Delegates to the module
        helper :func:`checkpoint_lag_sec` — THE single implementation;
        CdcStreamDriver's per-batch lag_sec gauge, `main.py`'s final
        line and `main.py ctl status` (which reads manifests without
        a SparkSession) all use the same law, so the surfaces can never
        drift (UTC-naive arithmetic, clamped at 0, 3 decimals)."""
        return checkpoint_lag_sec(self.global_checkpoint(), now)

    def table_checkpoints(self) -> dict:
        """source_table -> [file_seq, pos] applied high water (the
        reference's per-table checkpoint, syncer/checkpoint.go)."""
        return self._load_meta().table_points


def checkpoint_lag_sec(cp: dict | None, now=None) -> float | None:
    """Replication lag from a checkpoint dict (needs no SparkSession —
    callable on a raw manifest read): now minus max_applied_ts,
    UTC-naive, clamped at 0, 3 decimals. The one lag law."""
    import datetime as _dt

    ts = (cp or {}).get("max_applied_ts")
    if not ts:
        return None
    applied = _dt.datetime.fromisoformat(ts)
    if now is None:
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    return round(max(0.0, (now - applied).total_seconds()), 3)
