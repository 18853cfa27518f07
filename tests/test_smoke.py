"""Driver-contract smoke tests (SURVEY.md §5.2.2)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from stellarsql_spark.registry import all_specs
from tools.check_oracle import check_key, duck_connection

SPECS = all_specs()


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "sum_qty", "count_order"} <= set(df.columns)


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert list(qs) == list(SPECS)
    assert list(oracles) == [k for k, s in SPECS.items() if s.oracle is not None]
    # every oracle is a non-empty SQL string
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("key", list(SPECS))
def test_key_matches_oracle(spark, duck, sf_dir, key):
    """The key's Spark result equals its DuckDB oracle (exact, typed
    compare); a rows-only key has to run to completion."""
    assert check_key(spark, duck, SPECS[key], sf_dir) == []
