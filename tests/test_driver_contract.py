"""Pytest wrapper around the driver-contract comparator: every
``queries()`` entry must match its ``oracle_sql()`` DuckDB twin at sf0.01
(row count + columns + order-insensitive values); rows-only entries must
execute and return a stable schema (SURVEY.md §5.4)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod  # noqa: E402
from tests.driver_contract_check import TABLES, check_one  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, duck, name):
    r = check_one(spark, duck, name, _QUERIES[name], _ORACLES.get(name), SF_DIR)
    assert r["ok"], r


def test_every_oracle_has_a_query():
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing, f"oracle_sql keys without queries(): {missing}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["source", "n_docs", "avg_tokens", "avg_stop_ratio", "n_langs"]


def test_every_query_is_oracled():
    """Zero rows-only carve-outs: every queries() entry must carry a
    DuckDB oracle, and no oracle may be orphaned."""
    q, o = set(_QUERIES), set(_ORACLES)
    assert q == o, (sorted(q - o), sorted(o - q))
