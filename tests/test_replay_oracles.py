"""The replay, incremental-fold and mid-feed DDL entries of
`__spark_entry__.queries()` against their DuckDB oracles at the test sf:
row count, columns and the schema-insensitive sorted value hash — the
same comparison `scripts/check_entry.py` makes, through its own
normalize/value_hash and DuckDB views. These entries exercise every
location-cut loop (`_feed_ranges`, `_pre_ddl_lake`, the safe-mode tail
and `ReplayRunner.replay`)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from scripts.check_entry import duckdb_views, normalize, value_hash

ENTRIES = [
    "cdc_replay_merge",
    "cdc_replay_merge_mor",
    "cdc_replay_filtered",
    "cdc_safe_mode_replay",
    "cdc_uk_identity_replay",
    "cdc_change_feed_chain",
    "cdc_preference_incremental",
    "cdc_best_of_incremental",
    "cdc_ddl_evolution",
    "cdc_ddl_default_backfill",
    "cdc_optimistic_ddl",
    "cdc_ddl_filtered",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_matches_oracle(spark, sf_dir, duck, name):
    got = normalize(entrymod.queries()[name](spark, sf_dir).toPandas())
    want = normalize(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want)
