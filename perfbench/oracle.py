"""Independent final-state oracle: last-writer-wins over the exact relay
files, computed in DuckDB, compared row for row with the lake. In-band
DDL rows (op 'Q') carry no row change and are left out."""

from __future__ import annotations

import tempfile

import duckdb
import pandas as pd
from pyspark.sql import functions as F

COLS = ["conv_id", "turn_idx", "role", "tool", "ts_us", "text_md5"]

# Order by (ts, file_seq, pos); a key-moving UPDATE is DELETE(old key)
# plus an upsert of the new key, both carrying the event's location.
# Ranking runs on narrow columns; a surviving upsert's row is the after
# image of the event at its (file_seq, pos), which is unique per event.
_LWW_SQL = """
WITH ev AS (
  SELECT * FROM read_parquet({files}) WHERE op <> 'Q'
), flat AS (
  SELECT op,
         CASE WHEN op = 'D' THEN "before".conv_id ELSE "after".conv_id END AS conv_id,
         CASE WHEN op = 'D' THEN "before".turn_idx ELSE "after".turn_idx END AS turn_idx,
         ts, file_seq, pos
  FROM ev
  UNION ALL
  SELECT 'D', "before".conv_id, "before".turn_idx, ts, file_seq, pos
  FROM ev
  WHERE op = 'U' AND "before" IS NOT NULL AND "after" IS NOT NULL
    AND ("before".conv_id IS DISTINCT FROM "after".conv_id
         OR "before".turn_idx IS DISTINCT FROM "after".turn_idx)
), win AS (
  SELECT op, file_seq, pos FROM flat
  QUALIFY row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, file_seq DESC, pos DESC) = 1
)
SELECT e."after".conv_id AS conv_id, e."after".turn_idx AS turn_idx,
       e."after".role AS role, e."after".tool AS tool,
       epoch_us(e."after".ts) AS ts_us, md5(e."after".text) AS text_md5
FROM win JOIN ev e USING (file_seq, pos)
WHERE win.op <> 'D'
"""


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    df = df[COLS].astype({"turn_idx": "int64", "ts_us": "int64"})
    df["tool"] = df["tool"].fillna("<null>")
    return df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def expected_state(relay_files: list[str]) -> pd.DataFrame:
    files = "[" + ", ".join(f"'{p}'" for p in sorted(relay_files)) + "]"
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        return _sorted(con.execute(_LWW_SQL.format(files=files)).df())
    finally:
        con.close()


def lake_state(lake) -> pd.DataFrame:
    df = lake.read().select(
        "conv_id", "turn_idx", "role", "tool",
        F.unix_micros("ts").alias("ts_us"), F.md5("text").alias("text_md5"),
    )
    return _sorted(df.toPandas())


def mismatches(lake, relay_files: list[str], null_cols=()) -> int:
    """Rows that differ between the lake and the oracle (missing, extra
    or with any compared column different), plus rows where a column in
    `null_cols` (added by a schema change, never written by the source)
    is missing or not NULL."""
    want = expected_state(relay_files)
    got = lake_state(lake)
    both = want.merge(got, how="outer", on=COLS, indicator=True)
    bad = int((both["_merge"] != "both").sum()) + abs(len(want) - len(got))
    df = lake.read()
    for c in null_cols:
        bad += df.count() if c not in df.columns else df.where(F.col(c).isNotNull()).count()
    return bad
