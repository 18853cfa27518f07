"""DuckDB check of the engine's outputs, run after the timed region.

Values are compared with ``tools/check_oracle.compare`` — the same
exact, type-sensitive normalisation the repository's correctness gate
uses — loaded from the checkout by path.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd
import pyarrow as pa


def load_compare(root: str):
    """``compare(name, spark_df, duck_df) -> list[str]`` from the checkout."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def parquet_source(path: str) -> str:
    """DuckDB ``read_parquet`` argument for a parquet file or a
    directory of part files (the scaled corpus and sink outputs)."""
    if os.path.isdir(path):
        return os.path.join(path, "*.parquet")
    return path


def connect(sf_dir: str, tables: tuple[str, ...], threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table, limited to
    ``threads`` worker threads."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in tables:
        src = parquet_source(os.path.join(sf_dir, f"{t}.parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def rows_to_pandas(rows: list, columns: list[str]) -> pd.DataFrame:
    """Collected Spark ``Row``s as pandas with the dtypes Arrow gives
    (what ``DataFrame.toPandas`` yields), so the type-sensitive compare
    sees the same frame it sees in the correctness gate."""
    if not rows:
        return pd.DataFrame({c: pd.Series([], dtype=object) for c in columns})
    table = pa.Table.from_pylist([r.asDict() for r in rows])
    return table.select(columns).to_pandas()
