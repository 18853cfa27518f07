"""Cross-engine exact arithmetic helpers.

The driver's correctness gate compares Spark results against DuckDB by
order-insensitive value-hash, so floating-point money aggregates must
be *bit-identical* across engines and across partition orders. The
corpus money columns (`l_extendedprice`, `l_discount`, `l_tax`,
`o_totalprice`, `*_acctbal`, `events.value`) are exact 2-decimal
values stored as doubles (verified: ``round(x,2) == x`` for all rows),
so casting each element to DECIMAL(18,2) is lossless in both engines,
decimal sums are exact and order-independent, and a final CAST to
DOUBLE is deterministic. Intermediate products are explicitly cast
back down to small decimals to keep both engines inside precision-38
without engine-specific scale reduction.

At 100 TB scale this convention costs nothing: decimal aggregation is
still a map-side-partial hash aggregate; only the element width
changes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec2(col: str | Column) -> Column:
    """Lossless DECIMAL(18,2) view of an exact-2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def dsum(col: str | Column) -> Column:
    """Order-independent exact sum of a 2-decimal money column → DOUBLE."""
    return F.sum(dec2(col)).cast("double")


def davg(col: str | Column) -> Column:
    """Exact decimal-sum / count average → DOUBLE (deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec2(c)).cast("double") / F.count(c)).cast("double")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact DECIMAL(18,4)."""
    return (dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec2("l_discount"))).cast(
        "decimal(18,4)"
    )


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact DECIMAL(18,6)."""
    return (disc_price() * (F.lit(1).cast("decimal(18,2)") + dec2("l_tax"))).cast("decimal(18,6)")


# --- matching DuckDB SQL fragments (keep in lockstep with the above) ---

SQL_DEC2 = "CAST({col} AS DECIMAL(18,2))"
SQL_DISC_PRICE = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
)
SQL_CHARGE = (
    f"CAST({SQL_DISC_PRICE}"
    " * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))"
)


def sql_dsum(col: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


def sql_davg(col: str) -> str:
    return f"CAST(CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({col}) AS DOUBLE)"


# --- integer-cents representation: the hot-path alternative ---------
#
# For a 2-decimal money double, round(x*100) is its exact integer cent
# count: the 2-decimal value times 100 is an integer, and the double's
# representation error is ~1e-12, nowhere near the .5 rounding
# boundary. The engines do not round alike in general — Spark's
# ``round`` (which ``cents`` reproduces) rounds the ``Double.toString``
# decimal of x*100 half-up through a BigDecimal, DuckDB's ROUND rounds
# the binary double half away from zero — but on exact 2-decimal
# inputs both land on that integer, so cent longs are bit-identical
# cross-engine just like decimal casts. SUM(BIGINT) aggregates 2-4×
# faster than SUM(DECIMAL>18) in Spark (long adds in codegen vs
# Decimal objects), which matters on pre-aggregations with millions of
# groups. The final /100.0 is exact while the cent total stays under
# 2^53 (a per-group revenue of 90 trillion dollars; raise to decimal
# if you have that).


def round_half_up(y: Column) -> Column:
    """Spark's ``round(y)`` (scale 0) on a double without its per-row
    BigDecimal; ``cents`` says why the two are equal."""
    r = F.rint(y)
    return F.when(F.abs(y - r) == 0.5, F.round(y)).otherwise(r)


def cents(col: str | Column) -> Column:
    """Exact integer-cents BIGINT view of a 2-decimal money double.

    The value is ``CAST(round(x * 100) AS BIGINT)`` for every double.
    Spark evaluates ``round(double)`` as
    ``BigDecimal.valueOf(y).setScale(0, HALF_UP).doubleValue()``: one
    ``Double.toString`` and one BigDecimal per row. ``round_half_up``
    instead returns ``rint(y)`` (round half to even, a plain double op)
    and hands only the exact ties ``|y - rint(y)| == 0.5`` to ``round``.
    The results are the same:

    - ``Double.toString(y)`` parses back to ``y``, so its decimal lies
      in ``y``'s rounding interval.
    - For ``|y| < 2^52`` every ``k + 0.5`` is itself a double, so that
      interval holds no such tie unless ``y`` is one. Half-up on the
      decimal and nearest on ``y`` then pick the same integer, and the
      ties ``y == k + 0.5`` are exactly the rows sent to ``round``.
    - For ``|y| >= 2^52`` every double is an integer: both return ``y``.
    - NaN, ±∞ and null pass through both unchanged, so under ANSI mode
      NaN and ±∞ raise the same cast error.

    Before the cast only the sign of a zero can differ (``rint(-0.3)``
    is -0.0, ``round`` gives 0.0); the two compare equal and the BIGINT
    cast erases it. ``tests/test_exact.py`` checks all of this on an
    adversarial set.
    """
    c = F.col(col) if isinstance(col, str) else col
    return round_half_up(c * 100).cast("bigint")


def csum(col: str | Column) -> Column:
    """Order-independent exact money sum via cent longs → DOUBLE."""
    return (F.sum(cents(col)) / 100.0).cast("double")


def sql_csum(col: str) -> str:
    """DuckDB twin of ``csum`` (SUM(BIGINT) is HUGEINT there — cast
    back down before the double division so both engines divide a
    64-bit integer)."""
    return f"CAST(CAST(SUM(CAST(ROUND({col} * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE)"


def require_ansi(spark) -> None:
    """Runtime guard for the scaled-integer money convention.

    The cents/charge BIGINT sums rely on Spark ANSI mode to turn an
    int64 overflow into a loud ARITHMETIC_OVERFLOW error instead of a
    silent wraparound (DuckDB would keep summing in HUGEINT, so a
    wrap would be a silent cross-engine divergence — the worst kind).
    Spark 4 defaults ANSI on; this assertion makes the dependency a
    hard precondition rather than a docstring, so a session that
    disables ANSI fails fast at plan-build time, not at hash-compare
    time.
    """
    if spark.conf.get("spark.sql.ansi.enabled", "true").lower() != "true":
        raise RuntimeError(
            "scaled-integer money sums require spark.sql.ansi.enabled=true "
            "(overflow must throw, not wrap — see functions/exact.py)"
        )
