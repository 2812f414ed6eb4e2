"""Online-DDL (gh-ost / pt-osc) reconstruction.

Online schema-change tools apply DDL to a shadow ("ghost") table, copy
data, then atomically RENAME ghost -> real. Replicating their binlog
naively would replay the whole copy. The reference instead classifies
tables into real/ghost/trash by name pattern, buffers DDLs seen on the
ghost table in a meta table, drops ghost/trash DMLs, and on the RENAME
replays the buffered DDLs against the real table
(syncer/online-ddl-tools/online_ddl.go:45-79 interface, :382-508 Apply;
DML skip syncer/filter.go:74-78).

Same pattern here: classification by regex, a buffer dict (persisted by
the caller alongside the checkpoint), a DataFrame filter dropping
ghost/trash rows, and rename-event handling that returns the buffered
actions to apply to the lake table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# gh-ost: _tbl_gho (ghost), _tbl_ghc/_tbl_del (trash)
# pt-osc:  _tbl_new (ghost), _tbl_old (trash)
GHOST_RE = r"^(.+)\.(_(.+)_(?:gho|new))$"
TRASH_RE = r"^(.+)\.(_(.+)_(?:ghc|del|old))$"


def classify(source_table: str) -> tuple[str, str | None]:
    """-> ('ghost'|'trash'|'real', real_table_or_None)."""
    m = re.match(GHOST_RE, source_table)
    if m:
        return "ghost", f"{m.group(1)}.{m.group(3)}"
    m = re.match(TRASH_RE, source_table)
    if m:
        return "trash", f"{m.group(1)}.{m.group(3)}"
    return "real", None


def online_ddl_predicate(table_col: str = "source_table") -> Column:
    """Keep-predicate of :func:`filter_online_ddl_tables`.

    The regexes only ever match names ending in one of five fixed
    suffixes, so each RLIKE is gated behind cheap endswith checks
    (short-circuited in codegen) — this filter sits in EVERY pipeline
    (online_ddl defaults on) and the ungated version paid two Java
    regex evaluations per event; identical semantics because match ⊆
    suffix."""
    c = F.col(table_col)
    ghost_sfx = c.endswith("_gho") | c.endswith("_new")
    trash_sfx = c.endswith("_ghc") | c.endswith("_del") | c.endswith("_old")
    return ~((ghost_sfx & c.rlike(GHOST_RE)) | (trash_sfx & c.rlike(TRASH_RE)))


def filter_online_ddl_tables(df: DataFrame, table_col: str = "source_table") -> DataFrame:
    """Drop DMLs on ghost and trash tables (syncer/filter.go:74-78)."""
    return df.filter(online_ddl_predicate(table_col))


@dataclass
class OnlineDdlBuffer:
    """Buffers schema actions applied to ghost tables until the
    RENAME ghost->real swap; the buffer is JSON-serializable so the
    caller can persist it in the checkpoint meta (the reference stores
    it in a downstream meta table, online_ddl.go:382)."""

    buffered: dict[str, list[dict]] = field(default_factory=dict)

    def on_ddl(self, source_table: str, action: dict) -> bool:
        """Returns True if the DDL was buffered (ghost) or dropped
        (trash) — i.e. must NOT be applied downstream now."""
        kind, real = classify(source_table)
        if kind == "ghost":
            self.buffered.setdefault(real, []).append(action)
            return True
        if kind == "trash":
            return True
        return False

    def on_rename(self, source_table: str, target_table: str) -> list[dict]:
        """RENAME ghost->real: return (and clear) the actions to replay
        against the real table (online_ddl.go:446-508). A rename whose
        source isn't a ghost table returns []."""
        kind, real = classify(source_table)
        if kind != "ghost" or real != target_table:
            return []
        return self.buffered.pop(real, [])

    def to_json(self) -> dict:
        return dict(self.buffered)

    @staticmethod
    def from_json(d: dict) -> "OnlineDdlBuffer":
        return OnlineDdlBuffer(buffered={k: list(v) for k, v in (d or {}).items()})
