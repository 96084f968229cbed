"""The full correctness gate: every ``oracle_sql()`` query at sf0.01
against DuckDB, compared on column names, row count and the value
multiset (the comparison of ``tools/check_oracle.py``)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import SF_DIR, TABLES, compare

ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    odf = duck.sql(ORACLES[name])
    checks = compare(sdf.columns, srows, odf.columns, odf.fetchall())
    assert all(checks.values()), (checks, len(srows))
