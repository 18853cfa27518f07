"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, column names, and
values (columns sorted by name, rows sorted by all columns, exact
equality — at least as strict as the driver's order-insensitive
value-hash).

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [keys...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stellarsql_spark.catalog import TABLES, table_path  # noqa: E402
from stellarsql_spark.registry import all_specs  # noqa: E402
from stellarsql_spark.session import get_spark  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


def dtype_tag(s: pd.Series) -> str:
    """Canonical type tag per column, computed BEFORE any coercion.

    The driver's value-hash is type-sensitive (r01: DuckDB HUGEINT vs
    Spark BIGINT failed b_tpch_q12 even though values matched), so two
    engines must deliver hash-identical pandas values. Tags collapse
    only divergences known to be benign at the driver (datetime64
    resolution); everything else — int vs float, Decimal vs float,
    int128-as-object — is a failure here so it fails locally the same
    way it fails at the driver."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if s.dtype != object:
        return str(s.dtype)
    kinds = {type(v).__name__ for v in s if v is not None and v == v}
    return "object:" + ",".join(sorted(kinds)) if kinds else "object:empty"


def driver_hostile(s: pd.Series) -> str | None:
    """Return a reason if the column would crash the driver's pandas
    canonicalizer (r01: b_fn_string2 raw array<string> → sort_values
    raises 'unhashable type: list')."""
    if s.dtype != object:
        return None
    for v in s:
        if isinstance(v, (list, np.ndarray, dict, set)):
            return f"unhashable {type(v).__name__} value (driver sort_values crashes)"
    return None


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, value-normalized frame."""
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[col] = s.map(lambda v: _norm_obj(v))
        elif pd.api.types.is_float_dtype(s):
            df[col] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            df[col] = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _norm_obj(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, np.ndarray)):
        return tuple(_norm_obj(x) for x in v)
    if isinstance(v, datetime.datetime):
        return pd.Timestamp(v).floor("us")
    return v


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns: spark={s_cols} duck={d_cols}")
        return problems
    if problems:
        return problems
    for col in s_cols:
        st, dt = dtype_tag(spark_df[col]), dtype_tag(duck_df[col])
        if st != dt:
            problems.append(f"dtype col {col!r}: spark={st} duck={dt} (driver hash is type-sensitive)")
        for side, series in (("spark", spark_df[col]), ("duck", duck_df[col])):
            reason = driver_hostile(series)
            if reason:
                problems.append(f"hostile col {col!r} ({side}): {reason}")
    if problems:
        return problems
    s, d = normalize(spark_df), normalize(duck_df)
    for col in s.columns:
        a, b = s[col], d[col]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = (a.isna() & b.isna()) | (a == b)
        else:
            eq = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
        bad = (~eq).to_numpy().nonzero()[0]
        if len(bad):
            i = int(bad[0])
            problems.append(
                f"col {col!r}: {len(bad)}/{len(a)} mismatches; first at sorted-row {i}: "
                f"spark={a.iloc[i]!r} duck={b.iloc[i]!r}"
            )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="replicate the driver: plain SparkSession (no engine confs) "
        "+ the __spark_entry__.queries() wrappers",
    )
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    specs = all_specs()
    keys = args.keys or sorted(specs)
    if args.vanilla:
        from pyspark.sql import SparkSession

        import __spark_entry__ as entry_mod

        spark = SparkSession.builder.master("local[8]").appName("oracle_vanilla").getOrCreate()
        wrapped = entry_mod.queries()
        specs = {
            k: type(s)(name=s.name, builder=wrapped[k], oracle=s.oracle, tags=s.tags, doc=s.doc)
            for k, s in specs.items()
        }
    else:
        spark = get_spark("oracle_check")
    con = duck_connection(args.sf)

    n_pass = n_fail = n_rows_only = 0
    for key in keys:
        spec = specs[key]
        t0 = time.time()
        try:
            sdf = spec.builder(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL {key}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows {key}: {len(sdf)} rows ({time.time() - t0:.1f}s) [rows-only]")
            n_rows_only += 1
            if len(sdf) == 0:
                print(f"  WARNING {key}: 0 rows from a rows-only query")
            continue
        try:
            ddf = con.execute(spec.oracle).df()
        except Exception:
            print(f"FAIL {key}: duckdb raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(key, sdf, ddf)
        if problems:
            n_fail += 1
            print(f"FAIL {key} ({time.time() - t0:.1f}s):")
            for p in problems:
                print(f"  {p}")
        else:
            n_pass += 1
            print(f"ok   {key}: {len(sdf)} rows ({time.time() - t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
