"""Local replica of the driver's correctness gate: run every
queries() entry and its oracle_sql() on the same parquet, compare
row count + schema-insensitive sorted value hash. Usage:

    python scripts/check_entry.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from dm_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table present in
    sf_dir — the tables every oracle_sql() query reads."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        # unify ints/floats across engines
        if str(df[c].dtype) in ("int32", "uint32", "int16", "uint64"):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    s = df.to_csv(index=False, float_format="%.9g")
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("check_entry", shuffle_partitions=16)
    con = duckdb_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        t0 = time.time()
        try:
            sdf = normalize(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = normalize(con.execute(oracles[name]).df())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        cols_ok = list(sdf.columns) == list(odf.columns)
        rows_ok = len(sdf) == len(odf)
        hash_ok = cols_ok and rows_ok and value_hash(sdf) == value_hash(odf)
        status = "OK  " if (cols_ok and rows_ok and hash_ok) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{status}  {name}: rows {len(sdf)}/{len(odf)} cols_ok={cols_ok} "
            f"hash_ok={hash_ok} [{time.time()-t0:.1f}s]"
        )
        if not hash_ok and cols_ok and rows_ok:
            merged = sdf.compare(odf) if sdf.shape == odf.shape else None
            if merged is not None and len(merged):
                print(merged.head(5))
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
