"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All operators live in the ``stellarsql_spark`` package; this module
just adapts the registry to the driver's three-function contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stellarsql_spark.registry import all_specs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from stellarsql_spark.operators.aggregates import b_agg_groupby

    return b_agg_groupby(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(builder):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return builder(spark, sf_dir)

        return run

    return {name: _wrap(spec.builder) for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query key (omitted → rows-only)."""
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
