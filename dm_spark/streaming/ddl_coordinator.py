"""Shard-DDL coordination: pessimistic barrier + pending-DML spill.

Pessimistic mode in the reference (syncer/sharding_group.go:16-71):
when shard table A hits DDL v2, A's later DMLs must NOT apply until
every member of its group reaches the same DDL; the first-arriving
tables are paused, the owner executes the DDL once, and a re-sync
streamer replays the skipped range (syncer/syncer.go:1572-1592,
filtering to group tables, :2008-2018).

Micro-batch re-expression: the barrier is driver state between batches;
DMLs of tables that already announced the DDL are split out of the
batch and spilled to a pending relay dir (the skipped-range analog);
when the group is in sync the DDL applies once to the lake table and
the pending files are merged next. No distributed coordination is
needed — micro-batch edges are the only barrier points.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ddl_key(action: dict) -> str:
    ident = {k: action.get(k) for k in ("action", "column", "new_name", "new_type")}
    return json.dumps(ident, sort_keys=True)


@dataclass
class ShardDdlBarrier:
    """groups: target table -> member source tables."""

    groups: dict[str, list[str]]
    # target -> ddl_key -> set(members that announced)
    announced: dict[str, dict[str, set]] = field(default_factory=dict)

    def group_of(self, source_table: str) -> str | None:
        for tgt, members in self.groups.items():
            if source_table in members:
                return tgt
        return None

    def announce(self, source_table: str, action: dict) -> bool:
        """Member reached this DDL. True => whole group in sync (caller
        applies the DDL once and then calls `release`)."""
        tgt = self.group_of(source_table)
        if tgt is None:
            return True  # un-grouped table: no barrier
        k = _ddl_key(action)
        seen = self.announced.setdefault(tgt, {}).setdefault(k, set())
        seen.add(source_table)
        return seen == set(self.groups[tgt])

    def blocked_sources(self) -> set:
        """Tables that announced a DDL whose group is not yet in sync —
        their DMLs are ahead of the group schema and must be deferred
        (syncer/syncer.go:2008-2018 drops them; we spill instead)."""
        out = set()
        for tgt, per_ddl in self.announced.items():
            members = set(self.groups[tgt])
            for seen in per_ddl.values():
                if seen != members:
                    out |= seen
        return out

    def release(self, target: str, action: dict) -> None:
        self.announced.get(target, {}).pop(_ddl_key(action), None)

    def shrink(self, source_table: str) -> tuple[str | None, list[dict]]:
        """A member leaves its group (DROP TABLE — the reference's
        `sgk.LeaveGroup`): remove it and RE-EVALUATE pending announces.
        A DDL that was waiting only on the departed member is now
        satisfied by the remaining members — returns (target, [actions
        newly complete]) so the caller applies them (locations are
        stamped at the drop event, the moment the barrier resolved)."""
        tgt = self.group_of(source_table)
        if tgt is None:
            return None, []
        self.groups[tgt] = [m for m in self.groups[tgt] if m != source_table]
        members = set(self.groups[tgt])
        done = []
        for k, seen in list(self.announced.get(tgt, {}).items()):
            seen.discard(source_table)
            if members and seen >= members:
                done.append(json.loads(k))
                self.announced[tgt].pop(k)
            elif not seen:
                # the departed member was the only announcer: a lock
                # nobody is waiting on is not a lock — leaving the empty
                # entry would show a synced=[] ghost in ddl-locks and
                # block nothing (review r5)
                self.announced[tgt].pop(k)
        return tgt, done

    def to_json(self) -> dict:
        return {
            t: {k: sorted(v) for k, v in per.items()} for t, per in self.announced.items()
        }

    @staticmethod
    def from_json(groups: dict[str, list[str]], d: dict) -> "ShardDdlBarrier":
        b = ShardDdlBarrier(groups=groups)
        b.announced = {t: {k: set(v) for k, v in per.items()} for t, per in (d or {}).items()}
        return b


def pending_locks(announced: dict, groups: dict) -> list[dict]:
    """show-ddl-locks (dm/ctl/master/show_ddl_locks.go): the unresolved
    pessimistic shard-DDL locks, one entry per (target, ddl) with its
    synced and unsynced members. `announced` is target -> ddl key ->
    announcing members, as a live barrier holds it or as the runner
    state persists it (`ShardDdlBarrier.to_json`)."""
    out = []
    for tgt, per in sorted(announced.items()):
        members = set(groups.get(tgt, []))
        for k, seen in sorted(per.items()):
            out.append({
                "lock_id": f"{tgt}#{k}",
                "target": tgt,
                "ddl": json.loads(k),
                "synced": sorted(seen),
                "unsynced": sorted(members - set(seen)),
            })
    return out


class PendingSpill:
    """Deferred-DML store: spilled as parquet under `dir`, merged back
    after barrier release (the re-sync streamer analog)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def spill(self, df: DataFrame) -> str | None:
        os.makedirs(self.path, exist_ok=True)
        dst = os.path.join(self.path, f"pending-{uuid.uuid4().hex}")
        df.write.parquet(dst)
        return dst

    def drain(self) -> tuple[DataFrame, list[str]] | None:
        """Returns (lazy DataFrame, backing dirs). The DataFrame reads
        the listed dirs lazily — call `clear_dirs(dirs)` only after
        every plan derived from it has been fully materialized."""
        if not os.path.isdir(self.path):
            return None
        dirs = [os.path.join(self.path, d) for d in sorted(os.listdir(self.path))]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs), dirs

    def clear_dirs(self, dirs: list[str]) -> None:
        import shutil

        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def split_blocked(
    batch: DataFrame, blocked: set, table_col: str = "source_table"
) -> tuple[DataFrame, DataFrame]:
    """(applicable, deferred) split of a flattened change batch."""
    if not blocked:
        return batch, batch.limit(0)
    cond = F.col(table_col).isin(sorted(blocked))
    return batch.filter(~cond), batch.filter(cond)
