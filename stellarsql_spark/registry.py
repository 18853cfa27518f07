"""Query registry: binds each declared operator (SURVEY.md §2) to

- a Spark builder ``(SparkSession, sf_dir) -> DataFrame``, and
- an optional DuckDB oracle SQL string (None → rows-only check).

``__spark_entry__.py`` assembles its ``queries()`` / ``oracle_sql()``
dicts from this registry, so every operator is declared exactly once,
next to its oracle, keeping column aliases aligned by construction.

Cross-engine determinism conventions (see SURVEY.md §5.2.6):
- money math is done in DECIMAL with explicit intermediate casts
  (inputs are exact 2-decimal values, so decimal sums are exact and
  order-independent in both engines), then CAST to DOUBLE at the end;
- every computed column is aliased identically in builder and oracle;
- arrays from collect_* are sorted; top-k ties are broken on unique
  keys.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import.
_QUERY_MODULES: tuple[str, ...] = (
    "stellarsql_spark.operators.tier_a",
    "stellarsql_spark.operators.filters",
    "stellarsql_spark.operators.tpch",
    "stellarsql_spark.operators.tpch2",
    "stellarsql_spark.operators.tpch3",
    "stellarsql_spark.operators.reshape",
    "stellarsql_spark.operators.subqueries",
    "stellarsql_spark.operators.sql_surface",
    "stellarsql_spark.operators.modern_sql",
    "stellarsql_spark.operators.timeseries",
    "stellarsql_spark.operators.events_analytics",
    "stellarsql_spark.operators.quality",
    "stellarsql_spark.operators.graph",
    "stellarsql_spark.operators.skew",
    "stellarsql_spark.operators.spatial",
    "stellarsql_spark.operators.merge",
    "stellarsql_spark.operators.runtime_filters",
    "stellarsql_spark.sources.bucketed",
    "stellarsql_spark.sources.events_layout",
    "stellarsql_spark.sources.python_ds",
    "stellarsql_spark.operators.aggregates",
    "stellarsql_spark.operators.joins",
    "stellarsql_spark.operators.windows",
    "stellarsql_spark.operators.sorts",
    "stellarsql_spark.operators.setops",
    "stellarsql_spark.sources.io",
    "stellarsql_spark.functions.families",
    "stellarsql_spark.functions.udfs",
    "stellarsql_spark.streaming.windows",
    "stellarsql_spark.streaming.parity",
    "stellarsql_spark.pipeline.dedup",
    "stellarsql_spark.pipeline.groups",
    "stellarsql_spark.pipeline.similarity",
    "stellarsql_spark.pipeline.vectors",
    "stellarsql_spark.pipeline.textstats",
    "stellarsql_spark.pipeline.curation",
    "stellarsql_spark.pipeline.spans",
    "stellarsql_spark.pipeline.multimodal",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None  # DuckDB SQL; None → driver rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or "")
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load()
    return dict(_REGISTRY)


def get_spec(name: str) -> QuerySpec:
    _load()
    return _REGISTRY[name]
