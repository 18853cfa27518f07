"""Money-to-cents kernel (functions/exact.py): bit-identity with Spark's
``round``, and the guard that keeps it the only money-to-cents site.

``cents`` replaced ``CAST(round(x * 100) AS BIGINT)``, whose ``round``
builds a BigDecimal per row. The engine's results — and every oracle
hash — depend on the new kernel returning exactly what ``round`` did,
so the set below aims at the values where the two could part: exact
``k + 0.5`` ties and their neighbours one ulp away, the classic
binary-decimal traps (1.005, 2.675), and the ±2^52 / 2^53 edges where
doubles stop having a fractional part.
"""

from __future__ import annotations

import ast
import math
import pathlib
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from stellarsql_spark.functions.exact import cents, round_half_up

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "stellarsql_spark"


def adversarial_doubles(seed: int = 20261018) -> np.ndarray:
    """Seeded doubles aimed at the places rint and half-up round differ."""
    rng = np.random.default_rng(seed)
    up, down = np.inf, -np.inf
    small = np.arange(-3000, 3000, dtype=np.float64) + 0.5
    big = rng.integers(-(2**51), 2**51, 20_000).astype(np.float64) + 0.5
    halves = np.concatenate([small, big])
    halves = np.concatenate([halves, np.nextafter(halves, up), np.nextafter(halves, down)])
    # x with x * 100 an exact tie (odd multiples of 1/8 give 12.5 * odd),
    # and x = tie / 100, whose product lands on or one ulp off the tie
    eighths = (2 * rng.integers(-(2**40), 2**40, 20_000) + 1) / 8.0
    hundredths = halves / 100.0
    money2 = rng.integers(-(10**11), 10**11, 40_000) / 100.0
    money3 = rng.integers(-(10**11), 10**11, 40_000) / 1000.0
    magnitudes = 10.0 ** rng.uniform(-8, 16, 40_000) * rng.choice([-1.0, 1.0], 40_000)
    edges = []
    for e in (2.0**52, 2.0**53, 2.0**52 / 100, 2.0**53 / 100, 2.0**51 / 100):
        for sign in (1.0, -1.0):
            v = sign * e
            for _ in range(6):
                edges += [v]
                v = np.nextafter(v, up)
            v = sign * e
            for _ in range(6):
                v = np.nextafter(v, down)
                edges += [v]
    traps = [1.005, 2.675, 0.285, 1.115, 0.125, 0.005, 0.015, 1.0e-8, 0.0, -0.0]
    return np.concatenate(
        [halves, eighths, hundredths, money2, money3, magnitudes, np.array(edges), np.array(traps)]
    )


def _frame(spark, tmp_path, values, nulls: int = 0):
    """A parquet-backed frame (the codegen path the engine's scans take,
    not a constant-folded local relation)."""
    arr = pa.array(list(values) + [None] * nulls, type=pa.float64())
    path = str(tmp_path / "x.parquet")
    pq.write_table(pa.table({"x": arr}), path)
    return spark.read.parquet(path)


def test_cents_is_bit_identical_to_spark_round(spark, tmp_path):
    vals = adversarial_doubles()
    df = _frame(spark, tmp_path, vals, nulls=3)
    x = F.col("x")
    y = x * 100
    diff = df.select(
        "x",
        F.round(y).alias("old_d"),
        round_half_up(y).alias("new_d"),
        F.round(y).cast("bigint").alias("old_c"),
        cents("x").alias("new_c"),
        F.round(x).alias("old_x"),
        round_half_up(x).alias("new_x"),
        (F.abs(y - F.rint(y)) == 0.5).cast("int").alias("tie_y"),
        (F.abs(x - F.rint(x)) == 0.5).cast("int").alias("tie_x"),
    )
    same = (
        F.col("old_d").eqNullSafe(F.col("new_d"))
        & F.col("old_c").eqNullSafe(F.col("new_c"))
        & F.col("old_x").eqNullSafe(F.col("new_x"))
    )
    bad = diff.where(~same).limit(5).collect()
    assert not bad, bad
    n, ties_y, ties_x, n_null = diff.agg(
        F.count("*"), F.sum("tie_y"), F.sum("tie_x"), F.sum(F.col("x").isNull().cast("int"))
    ).first()
    assert n == len(vals) + 3 and n_null == 3
    # the set must actually reach the ties the fallback exists for
    assert ties_y > 20_000 and ties_x > 20_000, (ties_y, ties_x)


@pytest.mark.parametrize("v", [math.nan, math.inf, -math.inf], ids=["nan", "inf", "-inf"])
def test_cents_raises_like_spark_round_on_non_finite(spark, tmp_path, v):
    """NaN and ±∞ survive both roundings as themselves, so the BIGINT
    cast raises the same ANSI error on both sides."""
    df = _frame(spark, tmp_path, [v])
    y = F.col("x") * 100
    old_d, new_d = df.select(F.round(y), round_half_up(y)).first()
    assert (math.isnan(old_d) and math.isnan(new_d)) or old_d == new_d == v * 100

    def condition(col):
        with pytest.raises(PySparkException) as info:
            df.select(col).collect()
        return info.value.getCondition()

    old = condition(F.round(y).cast("bigint"))
    assert old and condition(cents("x")) == old


# --- guard: functions/exact.py is the one money-to-cents site ---------

_SQL_ROUND_100 = re.compile(r"\bROUND\s*\([^()]*\*\s*100(\.0*)?\s*\)", re.IGNORECASE)


def _is_100(node: ast.AST) -> bool:
    return isinstance(node, ast.Constant) and type(node.value) in (int, float) and node.value == 100


def inlined_cents(tree: ast.AST) -> list[int]:
    """Lines of ``<x>.round(<expr> * 100)`` with no scale argument, and
    of ``ROUND(... * 100)`` string literals passed to ``expr`` or
    ``selectExpr``. Oracle SQL is a module constant, not a call
    argument, so DuckDB strings never match."""
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        name = node.func.attr
        if name == "round" and len(node.args) == 1 and not node.keywords:
            arg = node.args[0]
            if isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Mult):
                if _is_100(arg.left) or _is_100(arg.right):
                    lines.append(node.lineno)
        elif name in ("expr", "selectExpr"):
            for sub in (s for a in node.args for s in ast.walk(a)):
                if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                    if _SQL_ROUND_100.search(sub.value):
                        lines.append(sub.lineno)
    return sorted(lines)


def test_money_is_rounded_to_cents_only_in_exact():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel != "functions/exact.py":
            found += [f"{rel}:{n}" for n in inlined_cents(ast.parse(path.read_text()))]
    assert not found, "use functions.exact.cents for money, not round(x * 100): " + ", ".join(found)


def test_guard_sees_every_inlined_form():
    src = '''
a = F.round(100 * F.col("p")).cast("bigint")
b = F.round(F.col("v") * 100.0)
c = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
d = df.selectExpr("k", "cast(round(price*100) as bigint) AS c")
ok1 = F.round(F.col("s") * 100, 2)
ok2 = F.round(F.col("s") / 1000)
ok3 = spark.sql("SELECT CAST(ROUND(x * 100) AS BIGINT) FROM t")
ORACLE = "SELECT CAST(ROUND(x * 100) AS BIGINT) FROM t"
'''
    assert inlined_cents(ast.parse(src)) == [2, 3, 4, 5]
