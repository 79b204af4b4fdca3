"""Replicates the driver's correctness gate locally: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.001 and
compare them strictly with ``scripts/strict_sweep.compare`` — row count,
column names, integer/float dtype kinds, and order-insensitive values
with floats compared by their shortest repr."""

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from strict_sweep import compare  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _duck(sql: str):
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con.execute(sql).fetch_df()


QUERY_NAMES = sorted(set(entry_mod.oracle_sql()) & set(entry_mod.queries()))


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    err = compare(sdf, _duck(entry_mod.oracle_sql()[name]))
    assert err is None, f"{name}: {err}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_rows_only_queries(spark):
    only_rows = set(entry_mod.queries()) - set(entry_mod.oracle_sql())
    for name in only_rows:
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() > 0, name
