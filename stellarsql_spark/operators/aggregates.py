"""Aggregations (SURVEY.md §2 B16–B22).

Spark's hash aggregate already does map-side partial aggregation +
final merge after the shuffle — the canonical 100 TB-safe plan: only
one shuffle keyed on the (low-cardinality) group columns, with
per-partition combines shrinking it to |groups|×|partitions| rows.
Money sums use the exact-decimal convention from
``stellarsql_spark.functions.exact`` so results are order-independent
and hash-match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import (
    SQL_CHARGE,
    cents,
    charge,
    davg,
    dec2,
    disc_price,
    dsum,
    sql_dsum,
)
from stellarsql_spark.registry import register

# B16 — TPC-H Q1-style pricing summary: the flagship query.
#
# All money math rides as SCALED INTEGERS (functions.exact cents
# convention, extended to the decimal products): disc_price in 1e-4
# dollar units = cents(ep) * (100 - cents(disc)), charge in 1e-6
# units with the (100 + tax) factor — exact integers, summed as
# BIGINT (long adds in codegen, not Decimal objects: measured ~35%
# off the whole query at the 30x probe). Both engines then compute
# double(int_sum) / scale with identical IEEE round-to-nearest, so
# results stay bit-identical even where double(int_sum) itself is
# inexact. Overflow headroom: the 1e-6-unit charge sum reaches
# ~2e18 per group at the 30x probe corpus — inside int64 but only
# ~4.6x of headroom, shrinking linearly with corpus scale; a 100 TB
# deployment would keep the decimal form (SQL_CHARGE) for this one
# column or sum per-partition to DECIMAL(38,0). The builder guards
# the invariant at runtime (functions.exact.require_ansi): ANSI mode
# must be ON so an overflow throws ARITHMETIC_OVERFLOW loudly
# instead of wrapping into a silent cross-engine divergence.
PRICING_SUMMARY_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) AS BIGINT) / 1000000.0 AS DOUBLE) AS sum_charge,
  CAST(CAST(CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
  CAST(CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) / COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
  CAST(CAST(CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) / COUNT(l_discount) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("b_agg_groupby", oracle=PRICING_SUMMARY_ORACLE, tags=("agg", "flagship"))
def b_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash group-by aggregate (sum/avg/count), TPC-H Q1 shape —
    money math as scaled-integer sums (see oracle comment above)."""
    from stellarsql_spark.functions.exact import require_ansi

    require_ansi(spark)
    li = load_table(spark, sf_dir, "lineitem")
    ep, dc, tx, qt = (cents(c) for c in ("l_extendedprice", "l_discount", "l_tax", "l_quantity"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qt) / 100.0).cast("double").alias("sum_qty"),
            (F.sum(ep) / 100.0).cast("double").alias("sum_base_price"),
            (F.sum(ep * (100 - dc)) / 10000.0).cast("double").alias("sum_disc_price"),
            (F.sum(ep * (100 - dc) * (100 + tx)) / 1000000.0).cast("double").alias("sum_charge"),
            ((F.sum(qt) / 100.0).cast("double") / F.count("l_quantity")).cast("double").alias("avg_qty"),
            ((F.sum(ep) / 100.0).cast("double") / F.count("l_extendedprice")).cast("double").alias("avg_price"),
            ((F.sum(dc) / 100.0).cast("double") / F.count("l_discount")).cast("double").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_B17_ORACLE = f"""
SELECT
  COUNT(*) AS n_rows,
  COUNT(DISTINCT o_custkey) AS n_custs,
  {sql_dsum("o_totalprice")} AS total_revenue,
  CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
  MIN(o_orderdate) AS first_order,
  MAX(o_orderdate) AS last_order
FROM orders
"""


@register("b_agg_global", oracle=_B17_ORACLE, tags=("agg",))
def b_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-grouping) aggregate — single final reduce."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custs"),
        dsum("o_totalprice").alias("total_revenue"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


_B18_ORACLE = """
SELECT
  l_returnflag,
  COUNT(DISTINCT l_orderkey) AS n_orders,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(DISTINCT l_suppkey) AS n_supps,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("b_agg_distinct", oracle=_B18_ORACLE, tags=("agg",))
def b_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregate (expand + two-phase)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


# Estimates can't be recomputed by the oracle, so they're asserted as
# 3-sigma relative-error bounds next to the exact counts (measured
# worst case on this corpus: 3.3% at rsd=2%; the 6% bound fails the
# hash if HLL++ ever drifts).
_B19_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS orders_within_3rsd,
       TRUE AS parts_within_3rsd
FROM lineitem
GROUP BY l_returnflag
"""


@register("b_agg_approx_cd", oracle=_B19_ORACLE, tags=("agg", "approx"))
def b_agg_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — sketch-mergeable, the
    100 TB path for distinct counts — hash-checked as a property: each
    estimate must land within 3×rsd of the exact count."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.06 * F.col("exact_orders")
        ).alias("orders_within_3rsd"),
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.06 * F.col("exact_parts")
        ).alias("parts_within_3rsd"),
    )


_B20_ORACLE = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders, {sql_dsum("o_totalprice")} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
HAVING COUNT(*) > 100 AND SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 1000000
"""


@register("b_agg_having", oracle=_B20_ORACLE, tags=("agg",))
def b_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — post-aggregation filter on aggregate expressions."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
            F.sum(dec2("o_totalprice")).alias("_rev_dec"),
        )
        .where((F.col("n_orders") > 100) & (F.col("_rev_dec") > 1000000))
        .drop("_rev_dec")
    )


_B21R_ORACLE = f"""
SELECT n_name, c_mktsegment, COUNT(*) AS n_rows, {sql_dsum("c_acctbal")} AS bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
"""


@register("b_agg_rollup", oracle=_B21R_ORACLE, tags=("agg", "rollup"))
def b_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — hierarchical subtotals (nation → nation×segment → grand)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(F.count("*").alias("n_rows"), dsum("c_acctbal").alias("bal"))
    )


_B21C_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows, {sql_dsum("o_totalprice")} AS rev
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("b_agg_cube", oracle=_B21C_ORACLE, tags=("agg", "cube"))
def b_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all grouping-set combinations."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_rows"), dsum("o_totalprice").alias("rev")
    )


_B22_ORACLE = """
SELECT r_name,
       array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register("b_agg_collect", oracle=_B22_ORACLE, tags=("agg", "collect"))
def b_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set aggregation, sorted for determinism, joined to a
    string so the value-hash is representation-stable cross-engine."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"))
    )


_STATS_ORACLE = """
SELECT l_returnflag,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(COVAR_POP(l_quantity, l_discount), 6) AS qty_disc_covar,
       ROUND(STDDEV_POP(l_quantity), 6) AS qty_stddev,
       ROUND(VAR_POP(l_discount), 6) AS disc_var
FROM lineitem
GROUP BY l_returnflag
"""


@register("b_agg_stats", oracle=_STATS_ORACLE, tags=("agg", "stats"))
def b_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (corr/covar/stddev/variance). Rounded
    to 6 dp: both engines use single-pass covariance updates whose
    last-ulp order sensitivity rounding absorbs at these magnitudes."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_pop("l_discount"), 6).alias("disc_var"),
    )


_HIST_ORACLE = """
SELECT CAST(FLOOR(o_totalprice / 25000.0) AS INT) AS bucket,
       COUNT(*) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM orders
GROUP BY bucket
"""


@register("b_agg_histogram", oracle=_HIST_ORACLE, tags=("agg", "histogram"))
def b_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram by explicit floor arithmetic (identical
    IEEE ops in both engines, so bucket edges match bit-for-bit).
    The scale shape is one partial+final hash agg keyed by bucket."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000.0).cast("int")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )


_PCT_ORACLE = """
SELECT c_mktsegment,
       ROUND(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
       ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal,
       ROUND(quantile_cont(c_acctbal, 0.99), 6) AS p99_bal,
       CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
FROM customer
GROUP BY c_mktsegment
"""


@register("b_agg_percentiles", oracle=_PCT_ORACLE, tags=("agg", "percentile"))
def b_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) per group. Both
    engines use the same continuous-quantile definition (linear
    interpolation at rank p*(n-1)); rounding absorbs last-ulp
    interpolation arithmetic. Exact percentile requires a per-group
    sort — at extreme group sizes switch to approx_percentile's
    mergeable sketches (same API shape, rows-only oracle)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("median_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 6).alias("p90_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.99)"), 6).alias("p99_bal"),
        F.min("c_acctbal").cast("double").alias("min_bal"),
        F.max("c_acctbal").cast("double").alias("max_bal"),
    )


_ARGMM_ORACLE = """
SELECT o_orderstatus,
       arg_min(o_orderkey, o_totalprice) AS cheapest_order,
       arg_max(o_orderkey, o_totalprice) AS priciest_order,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
GROUP BY o_orderstatus
"""


@register("b_agg_argminmax", oracle=_ARGMM_ORACLE, tags=("agg", "argminmax"))
def b_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax): the key of the extreme row, not
    the extreme value. Deterministic because o_totalprice has no ties
    within a status group at test SFs — and a real deployment would
    break ties on the key column."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )


_BOOLBIT_ORACLE = """
SELECT l_returnflag,
       bool_and(l_discount > 0.0) AS all_discounted,
       bool_or(l_quantity >= 50.0) AS any_max_qty,
       bit_and(CAST(l_linenumber AS BIGINT)) AS ln_and,
       bit_or(CAST(l_linenumber AS BIGINT)) AS ln_or,
       bit_xor(CAST(l_linenumber AS BIGINT)) AS ln_xor
FROM lineitem
GROUP BY l_returnflag
"""


@register("b_agg_boolbit", oracle=_BOOLBIT_ORACLE, tags=("agg", "bool", "bitwise"))
def b_agg_boolbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (every/any) and bitwise (AND/OR/XOR) aggregates — all
    associative+commutative, so partial aggregation is exact under any
    partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") > 0.0).alias("all_discounted"),
        F.bool_or(F.col("l_quantity") >= 50.0).alias("any_max_qty"),
        F.bit_and(ln).alias("ln_and"),
        F.bit_or(ln).alias("ln_or"),
        F.bit_xor(ln).alias("ln_xor"),
    )


_REGR_ORACLE = """
SELECT l_returnflag,
       REGR_COUNT(l_extendedprice, l_quantity) AS n_pairs,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope,
       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 6) AS intercept,
       ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
       ROUND(REGR_AVGX(l_extendedprice, l_quantity), 6) AS avg_x,
       ROUND(REGR_AVGY(l_extendedprice, l_quantity), 6) AS avg_y
FROM lineitem
GROUP BY l_returnflag
"""


@register("b_agg_regression", oracle=_REGR_ORACLE, tags=("agg", "stats", "regression"))
def b_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (REGR_*): per-group OLS of
    extendedprice on quantity. Single-pass moment aggregates —
    associative partials, one shuffle on the grouping key, exact under
    any partitioning up to last-ulp (absorbed by ROUND 6, same
    convention as b_agg_stats)."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n_pairs"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
    )


# Shared double-arithmetic formula evaluated from exact integer power
# sums — both engines execute the identical IEEE expression tree, so
# the doubles agree bit-for-bit (ROUND 6 adds slack regardless).
_MOMENT_EXPRS = {
    "mean_qty": "ROUND(s1 / n, 6)",
    "var_qty": "ROUND(s2 / n - (s1 / n) * (s1 / n), 6)",
    "skew_qty": (
        "ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
        " / POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 6)"
    ),
    "kurt_qty": (
        "ROUND((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)"
        " - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
        " / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3, 6)"
    ),
}

_MOMENTS_ORACLE = f"""
WITH sums AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s2,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s3,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s4
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       {_MOMENT_EXPRS['mean_qty']} AS mean_qty,
       {_MOMENT_EXPRS['var_qty']} AS var_qty,
       {_MOMENT_EXPRS['skew_qty']} AS skew_qty,
       {_MOMENT_EXPRS['kurt_qty']} AS kurt_qty
FROM sums
"""


@register("b_agg_moments", oracle=_MOMENTS_ORACLE, tags=("agg", "stats", "moments"))
def b_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group via the
    sufficient-statistics pattern: one pass accumulates exact integer
    power sums Σq..Σq⁴ (l_quantity is integer-valued; bigint partials
    are associative and overflow-safe to ~10¹¹ rows), then the
    population moments are finished driver-free in a projection. This
    is how higher moments distribute at 100 TB — never a second pass,
    never engine-specific single-pass update formulas (Spark's own
    ``skewness``/``kurtosis`` use order-sensitive streaming updates
    that would not hash-match another engine)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
    )
    return sums.select(
        "l_returnflag",
        *[F.expr(e).alias(name) for name, e in _MOMENT_EXPRS.items()],
    )


# The oracle can recompute the exact distinct count but not Datasketches
# registers, so the sketch results are emitted as PROPERTIES the oracle
# asserts: BOTH the merged-partials estimate and the whole-scan
# estimate must sit within 5% of truth (fixed data + fixed lgK →
# deterministic; they differ from each other by a hair because the
# union target promotes HLL_4 → HLL_8 registers). A broken merge or a
# drifting estimate fails the hash.
_HLL_ORACLE = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_cnt,
       TRUE AS merged_within_5pct,
       TRUE AS whole_within_5pct
FROM orders
GROUP BY o_orderpriority
"""


@register("b_agg_hll_merge", oracle=_HLL_ORACLE, tags=("agg", "approx", "sketch"))
def b_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Datasketches HLL): build one
    sketch per (priority, half) partition, union the partial sketches,
    and verify the merged estimate equals the single-pass whole-scan
    estimate — the property that makes sketches the 100 TB answer to
    COUNT(DISTINCT): partials combine map-side like any algebraic agg,
    no exact-distinct shuffle of the key universe."""
    o = load_table(spark, sf_dir, "orders")
    halves = (
        o.withColumn("half", (F.col("o_orderkey") % 2).cast("int"))
        .groupBy("o_orderpriority", "half")
        .agg(F.expr("hll_sketch_agg(o_custkey)").alias("part_sketch"))
    )
    merged = halves.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(part_sketch))").alias("merged_est")
    )
    whole = o.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").alias("whole_est"),
        F.countDistinct("o_custkey").alias("exact_cnt"),
    )
    return (
        whole.join(merged, "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_cnt",
            (
                F.abs(F.col("merged_est") - F.col("exact_cnt"))
                <= 0.05 * F.col("exact_cnt")
            ).alias("merged_within_5pct"),
            (
                F.abs(F.col("whole_est") - F.col("exact_cnt"))
                <= 0.05 * F.col("exact_cnt")
            ).alias("whole_within_5pct"),
        )
    )


# C95 — approximate-quantile error contract: percentile_approx's
# published guarantee (rank error <= n/accuracy) turned into a tested
# property, the same discipline as the HLL key (b_agg_hll_merge).
# The sketch values themselves are engine-specific (GK summaries
# don't transfer), so the HASHED result is the per-group verdict:
# each approx percentile must land between the EXACT percentiles at
# rank p +/- 2/accuracy.  At 100 TB the approx form is the only
# affordable one — a single pass with bounded sketch state per group
# versus the exact form's full sort — which is why its error bound
# deserves a standing test.
_APPROXQ_ACCURACY = 100
_APPROXQ_EPS = 2.0 / _APPROXQ_ACCURACY

_APPROXQ_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       TRUE AS p50_in_band,
       TRUE AS p90_in_band
FROM orders
GROUP BY o_orderpriority
"""


@register("b_agg_approx_quantile", oracle=_APPROXQ_ORACLE, tags=("agg", "approx", "quantile", "property"))
def b_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C95: per-group percentile_approx(0.5/0.9, accuracy=100) checked
    against exact-percentile bands at rank ±2/accuracy.  The oracle
    asserts the verdicts (all TRUE) with the group sizes — an
    accuracy regression or a broken sketch merge fails the hash."""
    o = load_table(spark, sf_dir, "orders")
    approx = F.percentile_approx("o_totalprice", [0.5, 0.9], _APPROXQ_ACCURACY)
    lo50 = F.expr(f"percentile(o_totalprice, {max(0.0, 0.5 - _APPROXQ_EPS)})")
    hi50 = F.expr(f"percentile(o_totalprice, {min(1.0, 0.5 + _APPROXQ_EPS)})")
    lo90 = F.expr(f"percentile(o_totalprice, {max(0.0, 0.9 - _APPROXQ_EPS)})")
    hi90 = F.expr(f"percentile(o_totalprice, {min(1.0, 0.9 + _APPROXQ_EPS)})")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            approx.alias("ap"),
            lo50.alias("lo50"),
            hi50.alias("hi50"),
            lo90.alias("lo90"),
            hi90.alias("hi90"),
        )
        .select(
            "o_orderpriority",
            "n",
            ((F.col("ap")[0] >= F.col("lo50")) & (F.col("ap")[0] <= F.col("hi50"))).alias("p50_in_band"),
            ((F.col("ap")[1] >= F.col("lo90")) & (F.col("ap")[1] <= F.col("hi90"))).alias("p90_in_band"),
        )
    )


_GROUPING_ID_ORACLE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       GROUPING(o_orderstatus) AS g_status,
       GROUPING(o_orderpriority) AS g_priority,
       GROUPING_ID(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


@register("b_agg_grouping_id", oracle=_GROUPING_ID_ORACLE, tags=("aggregate", "rollup", "grouping"))
def b_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C99: GROUPING()/GROUPING_ID() provenance labels on a ROLLUP —
    the standard way a consumer distinguishes a real NULL key from a
    subtotal row. Both engines compute the same bit vector (first
    grouping column = most-significant bit). Plan shape is the
    b_agg_rollup expansion (grouping-set duplication AFTER map-side
    partials); the labels are virtual columns on the expanded rows,
    costing nothing extra at scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            F.col("gid").cast("int").alias("gid"),
            "n_orders",
        )
    )


_BITMAP_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


@register("b_agg_bitmap", oracle=_BITMAP_ORACLE, tags=("aggregate", "bitmap", "distinct"))
def b_agg_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C106: bitmap-accelerated exact distinct count (Spark 3.5
    bitmap_construct_agg / bitmap_count) — the warehouse pattern for
    repeated COUNT(DISTINCT) over dense integer keys. Keys are bucketed
    (bitmap_bucket_number), each bucket aggregates to a fixed 4 KB
    bitmap (bitmap_bit_position sets one bit per key), and the final
    rollup sums per-bucket popcounts. Unlike HLL (b_agg_approx_cd)
    the answer is EXACT, and unlike the expand-based COUNT(DISTINCT)
    plan the shuffle carries constant-size bitmaps instead of one row
    per distinct value — at 100 TB the pre-aggregated bitmaps also
    materialize as a reusable accelerator table. The oracle is plain
    COUNT(DISTINCT): equality proves the whole bucket/bit round
    trip."""
    o = load_table(spark, sf_dir, "orders")
    buckets = (
        o.groupBy(
            "o_orderstatus",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm"),
            F.count("*").alias("n_rows"),
        )
    )
    return (
        buckets.groupBy("o_orderstatus")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("n_cust"),
            F.sum("n_rows").alias("n_orders"),
        )
    )


# --- Count-Min sketch (mergeable frequency sketch) -------------------

# d=4 hash rows × w=256 buckets; bucket_j(x) = first 2 hex chars of
# md5(j || ':' || x). Probe words are fixed members of the synthetic
# corpus vocabulary so the key is meaningful at every SF.
_CMS_D = 4
_CMS_W = 256
_CMS_PROBES = (
    "the", "a", "data", "value", "table", "row", "scan", "fast",
    "query", "join", "window", "vector",
)


def _cms_bucket(fn: str, expr: str) -> str:
    """2-hex-char md5 prefix → 0..255, engine-portably (Spark spells
    position instr, DuckDB strpos; see spans._bucket_sql)."""
    h = f"md5({expr})"
    return (
        f"((({fn}('0123456789abcdef', substring({h}, 1, 1)) - 1) * 16)"
        f" + ({fn}('0123456789abcdef', substring({h}, 2, 1)) - 1))"
    )


_CMS_PROBE_VALUES = ", ".join(f"('{w}')" for w in _CMS_PROBES)

_CMS_ORACLE = f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
salted AS (
  SELECT w, j FROM words CROSS JOIN (VALUES (0), (1), (2), (3)) s(j)
),
counters AS (
  SELECT j, {_cms_bucket("strpos", "j || ':' || w")} AS b, COUNT(*) AS c
  FROM salted GROUP BY 1, 2
),
probes AS (SELECT pw FROM (VALUES {_CMS_PROBE_VALUES}) p(pw)),
probe_cells AS (
  SELECT pw, j, {_cms_bucket("strpos", "j || ':' || pw")} AS b
  FROM probes CROSS JOIN (VALUES (0), (1), (2), (3)) s(j)
),
est AS (
  SELECT pw, MIN(COALESCE(c, 0)) AS cms_est
  FROM probe_cells LEFT JOIN counters USING (j, b)
  GROUP BY pw
),
exact AS (
  SELECT w AS pw, COUNT(*) AS exact_n FROM words
  WHERE w IN (SELECT pw FROM probes) GROUP BY w
)
SELECT pw AS word, COALESCE(exact_n, 0) AS exact_n, cms_est,
       cms_est >= COALESCE(exact_n, 0) AS never_underestimates
FROM est LEFT JOIN exact USING (pw)
"""


@register("b_agg_countmin", oracle=_CMS_ORACLE, tags=("agg", "sketch", "mergeable"))
def b_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C123: Count-Min sketch — the mergeable point-frequency sketch
    (Cormode & Muthukrishnan 2005) as a relational plan: d=4
    md5-salted hash rows × w=256 counters, estimate = min over rows.
    The counter table IS the sketch: building it is an ordinary
    partial+final hash aggregation (map-side combine = sketch merge,
    so at 100 TB each executor merges its local sketch before one
    ≤1024-row shuffle), and probing is a broadcast join against the
    fixed probe list. The CMS one-sided guarantee (estimate ≥ true
    count, always) is asserted as a result column the oracle
    recomputes exactly — the hashing is engine-portable md5
    arithmetic, so both engines build bit-identical sketches.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w"))
    salts = F.array([F.lit(j) for j in range(_CMS_D)])
    salted = words.select("w", F.explode(salts).alias("j"))
    counters = (
        salted.select("j", F.expr(_cms_bucket("instr", "j || ':' || w")).alias("b"))
        .groupBy("j", "b")
        .agg(F.count("*").alias("c"))
    )
    probes = spark.createDataFrame([(w,) for w in _CMS_PROBES], "pw string")
    probe_cells = probes.select(
        "pw", F.explode(salts).alias("j")
    ).select("pw", "j", F.expr(_cms_bucket("instr", "j || ':' || pw")).alias("b"))
    est = (
        probe_cells.join(counters, ["j", "b"], "left")
        .groupBy("pw")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cms_est"))
    )
    exact = (
        words.where(F.col("w").isin(*_CMS_PROBES))
        .groupBy(F.col("w").alias("pw"))
        .agg(F.count("*").alias("exact_n"))
    )
    return est.join(exact, "pw", "left").select(
        F.col("pw").alias("word"),
        F.coalesce("exact_n", F.lit(0)).alias("exact_n"),
        "cms_est",
        (F.col("cms_est") >= F.coalesce("exact_n", F.lit(0))).alias("never_underestimates"),
    )


# --- conditional / ordered-set aggregates ----------------------------

_CONDITIONAL_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       CAST(MEDIAN(CAST(o_totalprice AS DOUBLE)) AS DOUBLE) AS med_price
FROM orders
GROUP BY o_orderpriority
"""


@register("b_agg_conditional", oracle=_CONDITIONAL_ORACLE, tags=("agg", "filter", "median"))
def b_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C124: conditional aggregation — the ANSI `FILTER (WHERE ...)`
    clause (Spark's count_if / conditional count) plus the MEDIAN
    ordered-set aggregate, grouped by order priority. FILTER folds
    into the same single hash-aggregate pass as the unconditional
    counts (one scan, no extra shuffle); MEDIAN is the exact
    percentile path — at 100 TB the approx twin (b_agg_percentiles'
    approx_percentile) is the production choice and this key pins the
    exact semantics both engines agree on (midpoint interpolation on
    even counts).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.median(F.col("o_totalprice").cast("double")).cast("double").alias("med_price"),
    )


# --- one-pass pairwise correlation matrix ----------------------------

_CORRMATRIX_ORACLE = """
WITH s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sq,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sp,
         CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sd,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT) * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sqq,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS spp,
         CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sdd,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sqp,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sqd,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) AS spd
  FROM lineitem
)
SELECT n,
       ROUND((n * sqp - sq * sp) / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)), 6) AS corr_qty_price,
       ROUND((n * sqd - sq * sd) / sqrt((n * sqq - sq * sq) * (n * sdd - sd * sd)), 6) AS corr_qty_disc,
       ROUND((n * spd - sp * sd) / sqrt((n * spp - sp * sp) * (n * sdd - sd * sd)), 6) AS corr_price_disc
FROM s
"""


@register("b_agg_corrmatrix", oracle=_CORRMATRIX_ORACLE, tags=("agg", "stats", "corr"))
def b_agg_corrmatrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C133: pairwise Pearson correlation matrix over three measures
    in ONE scan — the sufficient-statistics form (n, Σx, Σx², Σxy for
    every pair) rather than one corr() pass per pair. All nine
    statistics are EXACT integer sums of cents-scaled values (per-row
    products ≤1e14 fit int64; the sums accumulate as DECIMAL(38,0)/
    HUGEINT, order-independent), cast to double only once, so both
    engines derive bit-identical correlations from bit-identical
    sufficient statistics — the same trick that makes the money sums
    hash-stable, extended to second moments. Scale shape: one
    partial+final hash aggregate over the fact table, no shuffle of
    anything but the 9 partial sums per task — the textbook
    single-pass design a 100 TB feature-stats job needs (and the
    sufficient statistics are mergeable across corpus shards, like
    the CMS counters)."""
    li = load_table(spark, sf_dir, "lineitem")
    cq, cp, cd = (cents(c) for c in ("l_quantity", "l_extendedprice", "l_discount"))

    def dsum38(col):
        return F.sum(col.cast("decimal(38,0)")).cast("double")

    s = li.agg(
        F.count("*").alias("n"),
        dsum38(cq).alias("sq"),
        dsum38(cp).alias("sp"),
        dsum38(cd).alias("sd"),
        dsum38(cq * cq).alias("sqq"),
        dsum38(cp * cp).alias("spp"),
        dsum38(cd * cd).alias("sdd"),
        dsum38(cq * cp).alias("sqp"),
        dsum38(cq * cd).alias("sqd"),
        dsum38(cp * cd).alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        return F.round(
            (n * F.col(sxy) - F.col(sx) * F.col(sy))
            / F.sqrt(
                (n * F.col(sxx) - F.col(sx) * F.col(sx))
                * (n * F.col(syy) - F.col(sy) * F.col(sy))
            ),
            6,
        )

    return s.select(
        "n",
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_disc"),
    )


# --- Gini concentration ----------------------------------------------

_GINI_ORACLE = """
WITH spend AS (
  SELECT c.c_mktsegment AS seg, c.c_custkey,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey
),
ranked AS (
  SELECT seg, cents,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, c_custkey) AS i
  FROM spend
)
SELECT seg,
       COUNT(*) AS n_cust,
       CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS BIGINT) / 100.0 AS DOUBLE) AS total_spend,
       ROUND(
         2.0 * CAST(SUM(CAST(i AS DECIMAL(38,0)) * cents) AS DOUBLE)
           / (COUNT(*) * CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE))
         - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM ranked
GROUP BY seg
"""


@register("b_agg_gini", oracle=_GINI_ORACLE, tags=("agg", "stats", "gini"))
def b_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C140: Gini coefficient of customer spend per market segment —
    the rank-weighted concentration index (G = 2·Σ(i·xᵢ)/(n·Σx) −
    (n+1)/n over ascending-ranked spend), the one-number answer to
    "is revenue concentrated in a few whales?". All inputs are exact:
    cents-integer spends, deterministic dense ranks (spend, custkey
    tiebreak), DECIMAL(38)/HUGEINT rank-weighted sums — both engines
    compute the identical double at the end. Scale shape: one
    fact-side aggregation to customer granularity, one per-segment
    window rank (partition-local sort bounded by segment size), one
    rollup — the window is the only sort and it's keyed by the
    5-way segment split; at 100 TB the rank pass parallelizes per
    segment-hash range exactly as written."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("seg", "c_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = Window.partitionBy("seg").orderBy("cents", "c_custkey")
    ranked = spend.select("seg", "cents", F.row_number().over(w).alias("i"))
    dec = lambda col: F.col(col).cast("decimal(38,0)")
    n = F.count("*")
    tot = F.sum(dec("cents"))
    return ranked.groupBy("seg").agg(
        n.alias("n_cust"),
        (tot.cast("bigint") / 100.0).cast("double").alias("total_spend"),
        F.round(
            2.0 * F.sum(dec("i") * F.col("cents")).cast("double")
            / (n * tot.cast("double"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


# --- Pareto / ABC analysis (C182) --------------------------------------

# "Which customers make up 80 % of revenue?" — rank customers by
# revenue, compute each one's running share of the total, and assign
# the classic A (first 80 %), B (next 15 %), C (tail) classes.  The
# running share compares as the cross-multiplied exact-long predicate
# 100 * cum_c <=> threshold * total_c — no float share ever decides a
# class boundary; the emitted share_m is display-only.
_PARETO_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (ORDER BY rev_c DESC, o_custkey) AS BIGINT) AS rn,
         CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey) AS BIGINT) AS cum_c,
         CAST(SUM(rev_c) OVER () AS BIGINT) AS total_c
  FROM cust
),
classed AS (
  SELECT *,
         CASE WHEN 100 * CAST(cum_c - rev_c AS HUGEINT)
                   < 80 * CAST(total_c AS HUGEINT) THEN 'A'
              WHEN 100 * CAST(cum_c - rev_c AS HUGEINT)
                   < 95 * CAST(total_c AS HUGEINT) THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(rev_c) AS BIGINT) AS class_rev_c,
       CAST(MIN(rn) AS BIGINT) AS first_rank, CAST(MAX(rn) AS BIGINT) AS last_rank,
       CAST(ROUND(1000000 * CAST(SUM(rev_c) AS DOUBLE) / MAX(total_c)) AS BIGINT) AS share_m
FROM classed GROUP BY abc
"""


@register("b_agg_pareto", oracle=_PARETO_ORACLE, tags=("agg", "pareto", "abc"))
def b_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C182: Pareto / ABC classification of customers by revenue
    share — class A holds the customers covering the first 80 % of
    revenue (boundary decided BEFORE each row's own contribution, the
    standard convention so the first customer is always A), B the
    next 15 %, C the tail; reported per class.

    Exactness: class boundaries compare cross-multiplied exact
    integers (see _PARETO_ORACLE) — no float ever picks a class.
    The cross-multiply rides DECIMAL(38,0)/HUGEINT carriers
    (the C216/C217/C243/C244 rule): cum_c/total_c are unbounded
    cents-sums, and 100 × total revenue crosses int64 around
    sf ~4000 — far below the 100 TB target — where Spark with ANSI
    off would wrap silently and misclassify.  Scale shape: the
    customer rollup is the data-sized shuffle; the ranked prefix-sum
    over |customers| rows runs through the SHIPPED two-pass
    range-partitioned prefix (functions/prefix.py — formerly a
    narrated "at extreme cardinality" mitigation), so no task ever
    holds more than ~1/npart of the customers; the class rollup is
    3 rows.  Measured trade (sf0.1, local[32], warm min-of-3):
    0.62 s single-partition window vs 0.90 s two-pass — the npart
    bookkeeping costs ~0.3 s where 15k customers fit one task
    trivially, and buys the form that still executes when
    |customers| is 1e10 and one task cannot hold them."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    # Scalable global prefix (functions/prefix.py): the running sum and
    # rank over |customers| rows run npart-way parallel — same values
    # as the single-partition window, minus its one-task bottleneck.
    # The grand total rides a broadcast 1-row agg for the same reason.
    from stellarsql_spark.functions.prefix import ordered_running

    ranked = ordered_running(
        cust,
        order=[F.col("rev_c").desc(), F.col("o_custkey")],
        sums={"cum_c": F.col("rev_c")},
        row_number_as="rn",
    ).withColumn("cum_c", F.col("cum_c").cast("bigint"))
    total = cust.agg(F.sum("rev_c").cast("bigint").alias("total_c"))
    ranked = ranked.join(F.broadcast(total))
    before = F.expr("100 * CAST(cum_c - rev_c AS DECIMAL(38,0))")
    total_d = F.expr("CAST(total_c AS DECIMAL(38,0))")
    classed = ranked.withColumn(
        "abc",
        F.when(before < 80 * total_d, "A")
        .when(before < 95 * total_d, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc").agg(
        F.count("*").cast("bigint").alias("n_cust"),
        F.sum("rev_c").cast("bigint").alias("class_rev_c"),
        F.min("rn").cast("bigint").alias("first_rank"),
        F.max("rn").cast("bigint").alias("last_rank"),
        F.round(
            1_000_000 * F.sum("rev_c").cast("double") / F.max("total_c")
        )
        .cast("bigint")
        .alias("share_m"),
    )


# --- Winsorized / trimmed mean (C186) -----------------------------------

_WINSOR_LO_PCT = 5
_WINSOR_HI_PCT = 95

# Robust central tendency for a heavy-tailed money column: winsorize
# (clamp to the p5/p95 values) and trim (drop beyond them).  The
# percentile CUTS are rank-defined on the exact-cents value rollup —
# lo = smallest v with cum >= ceil(5n/100) — so both engines pick the
# same actual data values; no interpolated quantile ever appears.
# Means divide exact long sums once, at the millionth boundary.
_WINSOR_ORACLE = f"""
WITH vals AS (
  SELECT CAST(ROUND(100 * o_totalprice) AS BIGINT) AS v FROM orders
),
grp AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY v
),
ranked AS (
  SELECT *, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM grp
),
cuts AS (
  SELECT MIN(CASE WHEN 100 * cum >= {_WINSOR_LO_PCT} * n THEN v END) AS lo_c,
         MIN(CASE WHEN 100 * cum >= {_WINSOR_HI_PCT} * n THEN v END) AS hi_c,
         MAX(n) AS n_tot
  FROM ranked
),
agg AS (
  SELECT n_tot AS n, lo_c, hi_c,
         CAST(SUM(cnt * CASE WHEN v < lo_c THEN lo_c
                             WHEN v > hi_c THEN hi_c ELSE v END) AS BIGINT) AS wsum_c,
         CAST(SUM(CASE WHEN v BETWEEN lo_c AND hi_c THEN cnt * v END) AS BIGINT) AS tsum_c,
         CAST(SUM(CASE WHEN v BETWEEN lo_c AND hi_c THEN cnt END) AS BIGINT) AS t_n
  FROM ranked CROSS JOIN cuts
  GROUP BY n_tot, lo_c, hi_c
)
SELECT n, lo_c, hi_c, t_n,
       CAST(ROUND(1000000 * CAST(wsum_c AS DOUBLE) / n) AS BIGINT) AS winsor_mean_m,
       CAST(ROUND(1000000 * CAST(tsum_c AS DOUBLE) / t_n) AS BIGINT) AS trim_mean_m
FROM agg
"""


@register("b_agg_winsorize", oracle=_WINSOR_ORACLE, tags=("agg", "robust", "winsorize"))
def b_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C186: winsorized and trimmed means of order totals at the
    5/95 rank cuts — the robust-mean pair (clamp vs drop) that
    reporting uses when a fat tail or bad loads poison the plain AVG.
    Complements b_ts_outlier_mad (per-point flagging) with the
    corpus-level robust estimate, and b_agg_percentiles (the cuts
    themselves) with the estimators built on them.

    Scale shape: the value rollup collapses to |distinct cents| rows;
    the rank prefix runs over that rollup through the two-pass
    range-partitioned form (functions/prefix.py — v is unique after
    the rollup, so ORDER BY v is the required total order); cuts
    broadcast back as a single row.  Exactness: see _WINSOR_ORACLE —
    rank-defined cuts, exact long sums, two rounded divisions."""
    from stellarsql_spark.functions.prefix import ordered_running

    o = load_table(spark, sf_dir, "orders")
    grp = o.select(
        cents("o_totalprice").alias("v")
    ).groupBy("v").agg(F.count("*").cast("bigint").alias("cnt"))
    ranked = ordered_running(
        grp, order=[F.col("v")], sums={"cum": F.col("cnt")}
    ).withColumn("cum", F.col("cum").cast("bigint"))
    ranked = ranked.join(
        F.broadcast(grp.agg(F.sum("cnt").cast("bigint").alias("n")))
    )
    cuts = ranked.agg(
        F.min(F.when(100 * F.col("cum") >= _WINSOR_LO_PCT * F.col("n"), F.col("v"))).alias("lo_c"),
        F.min(F.when(100 * F.col("cum") >= _WINSOR_HI_PCT * F.col("n"), F.col("v"))).alias("hi_c"),
        F.max("n").alias("n_tot"),
    )
    j = ranked.crossJoin(F.broadcast(cuts))
    clamped = F.when(F.col("v") < F.col("lo_c"), F.col("lo_c")).when(
        F.col("v") > F.col("hi_c"), F.col("hi_c")
    ).otherwise(F.col("v"))
    inside = F.col("v").between(F.col("lo_c"), F.col("hi_c"))
    agg = j.groupBy("n_tot", "lo_c", "hi_c").agg(
        F.sum(F.col("cnt") * clamped).cast("bigint").alias("wsum_c"),
        F.sum(F.when(inside, F.col("cnt") * F.col("v"))).cast("bigint").alias("tsum_c"),
        F.sum(F.when(inside, F.col("cnt"))).cast("bigint").alias("t_n"),
    )
    return agg.select(
        F.col("n_tot").alias("n"),
        "lo_c",
        "hi_c",
        "t_n",
        F.round(1_000_000 * F.col("wsum_c").cast("double") / F.col("n_tot"))
        .cast("bigint")
        .alias("winsor_mean_m"),
        F.round(1_000_000 * F.col("tsum_c").cast("double") / F.col("t_n"))
        .cast("bigint")
        .alias("trim_mean_m"),
    )


# --- Box-plot statistics per group (C188) --------------------------------

# Per-priority five-number summaries with Tukey outlier counts — the
# box plot's data contract.  Quartiles are rank-defined on each
# group's value rollup (smallest v with 4*cum >= q*n — actual data
# values, the b_agg_winsorize convention); whiskers compare at 2×
# scale so the 1.5·IQR fences stay exact longs (2v vs 2q1 - 3·IQR).
_BOXPLOT_ORACLE = """
WITH vals AS (
  SELECT o_orderpriority AS pri,
         CAST(ROUND(100 * o_totalprice) AS BIGINT) AS v
  FROM orders
),
grp AS (
  SELECT pri, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY pri, v
),
ranked AS (
  SELECT *,
         CAST(SUM(cnt) OVER (PARTITION BY pri ORDER BY v) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY pri) AS BIGINT) AS n
  FROM grp
),
cuts AS (
  SELECT pri, MAX(n) AS n,
         MIN(CASE WHEN 4 * cum >= n THEN v END) AS q1_c,
         MIN(CASE WHEN 2 * cum >= n THEN v END) AS med_c,
         MIN(CASE WHEN 4 * cum >= 3 * n THEN v END) AS q3_c
  FROM ranked GROUP BY pri
),
fenced AS (
  SELECT r.pri, r.v, r.cnt, c.n, c.q1_c, c.med_c, c.q3_c,
         c.q3_c - c.q1_c AS iqr_c
  FROM ranked r JOIN cuts c ON r.pri = c.pri
)
SELECT pri, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(q1_c) AS BIGINT) AS q1_c,
       CAST(MAX(med_c) AS BIGINT) AS med_c,
       CAST(MAX(q3_c) AS BIGINT) AS q3_c,
       CAST(MAX(iqr_c) AS BIGINT) AS iqr_c,
       CAST(COALESCE(SUM(CASE WHEN 2 * v < 2 * q1_c - 3 * iqr_c THEN cnt END), 0) AS BIGINT) AS n_out_lo,
       CAST(COALESCE(SUM(CASE WHEN 2 * v > 2 * q3_c + 3 * iqr_c THEN cnt END), 0) AS BIGINT) AS n_out_hi
FROM fenced GROUP BY pri
"""


@register("b_agg_boxplot", oracle=_BOXPLOT_ORACLE, tags=("agg", "boxplot", "robust"))
def b_agg_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C188: per-group box-plot statistics — rank-defined quartiles,
    IQR, and Tukey 1.5·IQR outlier counts for each order priority.
    The grouped companion to b_agg_winsorize's corpus-level robust
    means; together they cover the two robust-reporting shapes.

    Exactness: see _BOXPLOT_ORACLE — quartiles are actual data
    values picked by integer rank predicates; fences compare at 2×
    scale so 1.5·IQR never materializes as a float.  Scale shape:
    the (group, value) rollup is the data-sized shuffle; prefix
    ranks run per group; cuts join back group-keyed (5 rows,
    broadcast)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    grp = o.select(
        F.col("o_orderpriority").alias("pri"),
        cents("o_totalprice").alias("v"),
    ).groupBy("pri", "v").agg(F.count("*").cast("bigint").alias("cnt"))
    ranked = grp.select(
        "*",
        F.sum("cnt")
        .over(
            Window.partitionBy("pri").orderBy("v").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint")
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy("pri")).cast("bigint").alias("n"),
    )
    cuts = ranked.groupBy("pri").agg(
        F.max("n").alias("n"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("v"))).alias("q1_c"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("v"))).alias("med_c"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("v"))).alias("q3_c"),
    )
    fenced = ranked.select("pri", "v", "cnt").join(
        F.broadcast(
            cuts.select(
                "pri", "n", "q1_c", "med_c", "q3_c",
                (F.col("q3_c") - F.col("q1_c")).alias("iqr_c"),
            )
        ),
        "pri",
    )
    return fenced.groupBy("pri").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("q1_c").cast("bigint").alias("q1_c"),
        F.max("med_c").cast("bigint").alias("med_c"),
        F.max("q3_c").cast("bigint").alias("q3_c"),
        F.max("iqr_c").cast("bigint").alias("iqr_c"),
        F.coalesce(
            F.sum(F.when(2 * F.col("v") < 2 * F.col("q1_c") - 3 * F.col("iqr_c"), F.col("cnt"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_out_lo"),
        F.coalesce(
            F.sum(F.when(2 * F.col("v") > 2 * F.col("q3_c") + 3 * F.col("iqr_c"), F.col("cnt"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_out_hi"),
    )


# --- Weighted median / weighted percentiles (C204) ---------------------------

# Quantity-weighted median (and p25/p75) of extended price: "the
# price level at which half the UNITS trade" — the volume-weighted
# cut every pricing/inventory report wants, and a different machinery
# from the unweighted rank cuts (C186/C188): the prefix accumulates
# WEIGHT, not row count.  Cuts are actual data values (smallest v
# with 4·wcum >= q·wtot — cross-multiplied exact longs; quantities
# sum as exact integers).
_WMEDIAN_ORACLE = """
WITH vals AS (
  SELECT CAST(ROUND(100 * l_extendedprice) AS BIGINT) AS v,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
grp AS (
  SELECT v, CAST(SUM(w) AS BIGINT) AS w FROM vals GROUP BY v
),
ranked AS (
  SELECT *, CAST(SUM(w) OVER (ORDER BY v) AS BIGINT) AS wcum,
         CAST(SUM(w) OVER () AS BIGINT) AS wtot
  FROM grp
)
SELECT CAST(MAX(wtot) AS BIGINT) AS total_units,
       CAST(MIN(CASE WHEN 4 * wcum >= wtot THEN v END) AS BIGINT) AS wp25_c,
       CAST(MIN(CASE WHEN 2 * wcum >= wtot THEN v END) AS BIGINT) AS wmedian_c,
       CAST(MIN(CASE WHEN 4 * wcum >= 3 * wtot THEN v END) AS BIGINT) AS wp75_c
FROM ranked
"""


@register("b_agg_weighted_median", oracle=_WMEDIAN_ORACLE, tags=("agg", "weighted", "median"))
def b_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C204: quantity-weighted median and quartiles of extended
    price — the prefix accumulates UNITS, not rows, so a 50-unit line
    pulls the cut 50× harder than a 1-unit line.  No engine builtin
    does weighted percentiles; the rank-cut construction (C186's)
    generalizes by swapping COUNT for SUM(weight).

    Scale shape: the (value) rollup pre-sums weights (data-sized
    shuffle down to |distinct cents|); the unit prefix runs through
    the two-pass range-partitioned form (functions/prefix.py); one
    row out.  Exactness: cross-multiplied exact-long cut predicates;
    quantities are integral in this corpus."""
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.select(
        cents("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
    ).groupBy("v").agg(F.sum("w").cast("bigint").alias("w"))
    from stellarsql_spark.functions.prefix import ordered_running

    ranked = ordered_running(
        grp, order=[F.col("v")], sums={"wcum": F.col("w")}
    ).withColumn("wcum", F.col("wcum").cast("bigint"))
    ranked = ranked.join(
        F.broadcast(grp.agg(F.sum("w").cast("bigint").alias("wtot")))
    )
    return ranked.agg(
        F.max("wtot").cast("bigint").alias("total_units"),
        F.min(F.when(4 * F.col("wcum") >= F.col("wtot"), F.col("v")))
        .cast("bigint")
        .alias("wp25_c"),
        F.min(F.when(2 * F.col("wcum") >= F.col("wtot"), F.col("v")))
        .cast("bigint")
        .alias("wmedian_c"),
        F.min(F.when(4 * F.col("wcum") >= 3 * F.col("wtot"), F.col("v")))
        .cast("bigint")
        .alias("wp75_c"),
    )


# --- Shannon entropy of a categorical mix (C209) ------------------------------

# How concentrated is each order status's priority mix?  Entropy in
# integer BILLIONTH-nats, the C203 (Kaplan-Meier) exactness recipe:
# each category contributes ROUND(1e9 * (c/n) * ln(n/c)) — one double
# divide, one ln, one multiply, one round per category, identically
# parenthesized in both engines — and the per-status total is an exact
# BIGINT sum of those integers, so aggregation order can never move
# the hash.  max_entropy_b = ROUND(1e9 * ln(k)) ships alongside so a
# consumer can form the normalized (Pielou) evenness downstream
# without another transcendental in the contract.
_ENTROPY_ORACLE = """
WITH cat AS (
  SELECT o_orderstatus AS status, o_orderpriority AS pri, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT status, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
  FROM cat GROUP BY status
)
SELECT t.status, t.n, t.k,
       CAST(SUM(CAST(ROUND(1000000000 * (CAST(c.c AS DOUBLE) / t.n)
                           * ln(CAST(t.n AS DOUBLE) / c.c)) AS BIGINT))
            AS BIGINT) AS entropy_b,
       CAST(ROUND(1000000000 * ln(CAST(t.k AS DOUBLE))) AS BIGINT)
           AS max_entropy_b
FROM cat c JOIN tot t ON c.status = t.status
GROUP BY t.status, t.n, t.k
ORDER BY t.status
"""


@register("b_agg_entropy", oracle=_ENTROPY_ORACLE, tags=("agg", "entropy"))
def b_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C209: Shannon entropy (nats) of the order-priority distribution
    within each order status — the mix-concentration diagnostic next
    to b_agg_gini's inequality measure.  Carried as billionth-nat
    integers: each category's term is rounded once from an identical
    double expression in both engines, and the status total is an
    exact integer sum of those terms (the C203 ln-term recipe), so
    float summation order is out of the contract.

    Scale shape: one (status, priority)-keyed rollup (map-side
    partials, |status|x|priority| = 15 rows out of any corpus size),
    a 3-row broadcast join for the totals, and a 3-row final group."""
    o = load_table(spark, sf_dir, "orders")
    cat = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count("*").alias("c"))
    tot = cat.groupBy("status").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
    )
    term = (
        F.round(
            1000000000
            * (F.col("c").cast("double") / F.col("n"))
            * F.log(F.col("n").cast("double") / F.col("c"))
        )
        .cast("bigint")
    )
    return (
        cat.join(F.broadcast(tot), "status")
        .groupBy("status", "n", "k")
        .agg(
            F.sum(term).cast("bigint").alias("entropy_b"),
            F.round(1000000000 * F.log(F.col("k").cast("double")))
            .cast("bigint")
            .alias("max_entropy_b"),
        )
        .select("status", "n", "k", "entropy_b", "max_entropy_b")
    )


# --- Exact mode with deterministic tie-break (C210) ---------------------------

# Engine mode() builtins leave ties unspecified (DuckDB documents
# "first value encountered"), so the contract form is the explicit
# count + ROW_NUMBER with a total order: count DESC, then segment name
# ASC.  The runner-up ships too — "mode" alone hides how contested the
# win was — plus the winner's share of the nation in exact millionths
# (integer division, no float).
_MODE_ORACLE = """
WITH cnt AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS seg, COUNT(*) AS c
  FROM customer GROUP BY 1, 2
),
rk AS (
  SELECT nationkey, seg, c,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY c DESC, seg) AS rn,
         CAST(SUM(c) OVER (PARTITION BY nationkey) AS BIGINT) AS n_cust
  FROM cnt
)
SELECT nationkey,
       MIN(CASE WHEN rn = 1 THEN seg END) AS mode_seg,
       CAST(MIN(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS mode_n,
       MIN(CASE WHEN rn = 2 THEN seg END) AS runner_seg,
       CAST(MIN(CASE WHEN rn = 2 THEN c END) AS BIGINT) AS runner_n,
       CAST(MIN(CASE WHEN rn = 1 THEN (1000000 * c) // n_cust END)
            AS BIGINT) AS share_m
FROM rk WHERE rn <= 2
GROUP BY nationkey
ORDER BY nationkey
"""


@register("b_agg_mode", oracle=_MODE_ORACLE, tags=("agg", "mode"))
def b_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C210: exact per-nation modal market segment with a DETERMINISTIC
    tie-break (count desc, segment asc) — the reason this is not
    engine mode(): both Spark's and DuckDB's builtin leave ties to
    evaluation order.  Ships the runner-up and the winner's share in
    exact integer millionths.

    Scale shape: (nation, segment) rollup — map-side partials down to
    25x5 rows — then a 125-row window; the corpus never reaches the
    window."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    cnt = c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("nationkey").orderBy(F.desc("c"), F.asc("seg"))
    rk = cnt.select(
        "nationkey",
        "seg",
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(Window.partitionBy("nationkey")).cast("bigint").alias("n_cust"),
    ).where(F.col("rn") <= 2)
    return (
        rk.groupBy("nationkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("seg"))).alias("mode_seg"),
            F.min(F.when(F.col("rn") == 1, F.col("c"))).cast("bigint").alias("mode_n"),
            F.min(F.when(F.col("rn") == 2, F.col("seg"))).alias("runner_seg"),
            F.min(F.when(F.col("rn") == 2, F.col("c"))).cast("bigint").alias("runner_n"),
            F.min(
                F.when(F.col("rn") == 1, F.expr("(1000000 * c) div n_cust"))
            )
            .cast("bigint")
            .alias("share_m"),
        )
    )


# --- Welch's unequal-variance t-test (C217) ------------------------------------

# The continuous-metric experiment readout next to C145's
# two-proportion z: do BUILDING and MACHINERY customers differ in
# order value?  Welch's t plus the Satterthwaite df — the form that
# does NOT assume equal variances, i.e. the one a metrics platform
# should default to.  Sufficient statistics are exact
# DECIMAL(38)/HUGEINT cents moments; t and df are compositions of
# IEEE correctly-rounded double ops over those identical inputs,
# rounded once at the end.
_TTEST_ORACLE = """
WITH seg AS (
  SELECT c.c_mktsegment AS seg,
         CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
s AS (
  SELECT seg, COUNT(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS sxx
  FROM seg GROUP BY seg
),
wide AS (
  SELECT MAX(CASE WHEN seg = 'BUILDING' THEN n END) AS n_a,
         MAX(CASE WHEN seg = 'BUILDING' THEN sx END) AS sx_a,
         MAX(CASE WHEN seg = 'BUILDING' THEN sxx END) AS sxx_a,
         MAX(CASE WHEN seg = 'MACHINERY' THEN n END) AS n_b,
         MAX(CASE WHEN seg = 'MACHINERY' THEN sx END) AS sx_b,
         MAX(CASE WHEN seg = 'MACHINERY' THEN sxx END) AS sxx_b
  FROM s
),
v AS (
  SELECT n_a, n_b,
         (n_a * sxx_a - sx_a * sx_a) / (n_a * (n_a - 1)) / n_a AS se2_a,
         (n_b * sxx_b - sx_b * sx_b) / (n_b * (n_b - 1)) / n_b AS se2_b,
         sx_a / n_a - sx_b / n_b AS mdiff
  FROM wide
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(ROUND(mdiff) AS BIGINT) AS mean_diff_c,
       ROUND(mdiff / sqrt(se2_a + se2_b), 6) AS t_welch,
       ROUND((se2_a + se2_b) * (se2_a + se2_b)
             / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1)),
             3) AS df_welch
FROM v
"""


@register("b_agg_ttest_welch", oracle=_TTEST_ORACLE, tags=("agg", "stats", "ttest"))
def b_agg_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C217: Welch's unequal-variance t-test on order value between
    two customer segments, with the Satterthwaite degrees of freedom.
    The whole test reduces to six exact numbers (n, Σv, Σv² per arm
    in integer cents / DECIMAL(38)); t and df are then identical
    double expressions in both engines (÷, ×, sqrt — all IEEE
    correctly-rounded), rounded once.

    Scale shape: one broadcast dim join (customer segment), one
    2-group rollup with map-side partials — the corpus collapses to
    two rows of sufficient statistics before any math happens."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(
            F.broadcast(c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))),
            o.o_custkey == c.c_custkey,
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            cents("o_totalprice").alias("v"),
        )
    )
    dec = F.col("v").cast("decimal(38,0)")
    s = seg.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("double").alias("sx"),
        F.sum(dec * F.col("v")).cast("double").alias("sxx"),
    )
    wide = s.agg(
        F.max(F.when(F.col("seg") == "BUILDING", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("sx"))).alias("sx_a"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("sxx"))).alias("sxx_a"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("sx"))).alias("sx_b"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("sxx"))).alias("sxx_b"),
    )
    v = wide.select(
        "n_a",
        "n_b",
        F.expr("(n_a * sxx_a - sx_a * sx_a) / (n_a * (n_a - 1)) / n_a").alias("se2_a"),
        F.expr("(n_b * sxx_b - sx_b * sx_b) / (n_b * (n_b - 1)) / n_b").alias("se2_b"),
        F.expr("sx_a / n_a - sx_b / n_b").alias("mdiff"),
    )
    return v.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("mdiff").cast("bigint").alias("mean_diff_c"),
        F.round(F.expr("mdiff / sqrt(se2_a + se2_b)"), 6).alias("t_welch"),
        F.round(
            F.expr(
                "(se2_a + se2_b) * (se2_a + se2_b)"
                " / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1))"
            ),
            3,
        ).alias("df_welch"),
    )


# --- Multiple DISTINCT aggregates in one pass (C221) ------------------------------

# COUNT(DISTINCT a), COUNT(DISTINCT b), SUM(DISTINCT c) in ONE query
# is a real planner stressor: Spark compiles N distinct sets into an
# Expand (each input row replicated N times with a grouping-set id)
# followed by two aggregate stages.  The key exists to pin that plan
# and its semantics; the docstring records the scale trade and the
# cheaper alternatives.
_MULTI_DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS nd_part,
       COUNT(DISTINCT l_suppkey) AS nd_supp,
       CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_dist_qty,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY 1
"""


@register("b_agg_multi_distinct", oracle=_MULTI_DISTINCT_ORACLE, tags=("agg", "distinct"))
def b_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C221: three DISTINCT aggregates over different columns in one
    GROUP BY — Catalyst compiles this via Expand: every input row is
    replicated once per distinct set (3x here) and tagged with a
    grouping id, then partial-deduped before the final aggregate.

    Scale note: the Expand multiplies the SHUFFLED bytes by the
    number of distinct sets — at 100 TB prefer (a) one query per
    distinct column sharing a scan, (b) approx_count_distinct (HLL,
    no Expand — b_agg_approx_cd), or (c) pre-deduped rollup tables
    (b_ts_rollup_incremental's pattern).  This key pins the exact
    semantics so those rewrites have a contract to match."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_part"),
            F.countDistinct("l_suppkey").alias("nd_supp"),
            F.sum_distinct(F.col("l_quantity").cast("bigint")).alias("sum_dist_qty"),
            F.count("*").alias("n_rows"),
        )
    )


# --- Herfindahl-Hirschman concentration index (C243) -------------------------------

# How concentrated is each nation's revenue across its customers?
# HHI = Σ share² — the antitrust/market-power measure next to
# b_agg_gini's inequality coefficient.  Kept exact: revenue in
# integer cents, Σv² carried in DECIMAL(38)/HUGEINT, and the index
# reported as the integer-millionth cross-multiplied ratio
# (1e6 · Σv²) div (Σv)² — no per-share float division at all.
_HHI_ORACLE = """
WITH rev AS (
  SELECT c.c_nationkey AS nationkey, o.o_custkey AS cust,
         CAST(SUM(CAST(ROUND(100 * o.o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT nationkey,
       COUNT(*) AS n_customers,
       CAST(SUM(v) AS BIGINT) AS total_c,
       -- HUGEINT // HUGEINT is exact floor division; DECIMAL // does
       -- NOT floor (returns the decimal quotient) and the BIGINT cast
       -- would then ROUND — documented divergence, see
       -- tests/test_differential.py::test_decimal_floor_division_…
       CAST(CAST(1000000 * SUM(CAST(v AS DECIMAL(38,0)) * v) AS HUGEINT)
            // CAST(CAST(SUM(v) AS DECIMAL(38,0)) * SUM(v) AS HUGEINT)
            AS BIGINT) AS hhi_m
FROM rev GROUP BY nationkey ORDER BY nationkey
"""


@register("b_agg_hhi", oracle=_HHI_ORACLE, tags=("agg", "concentration", "hhi"))
def b_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C243: Herfindahl-Hirschman index of revenue concentration
    across customers, per nation — Σ share² without computing any
    share: the cross-multiplied exact form
    (1e6·Σv²) div (Σv)², with Σv² in DECIMAL(38) (cents² overflows
    BIGINT past ~3e18; HUGEINT on the oracle side).  1e6/n ≤ hhi_m ≤
    1e6 by construction; the monopoly end is 1e6.

    Scale shape: one (nation, customer) rollup with map-side partials
    (the broadcast dim join the TPC-H keys share), then a 25-row
    final group."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("v"))
    )
    dec = F.col("v").cast("decimal(38,0)")
    return (
        rev.groupBy("nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("v").cast("bigint").alias("total_c"),
            F.expr(
                "CAST((1000000 * sum(CAST(v AS DECIMAL(38,0)) * v))"
                " div (CAST(sum(v) AS DECIMAL(38,0)) * sum(v)) AS BIGINT)"
            ).alias("hhi_m"),
        )
    )


# --- Poisson bootstrap standard error (C252) ---------------------------------------------

# THE distributed bootstrap: classical resampling needs coordinated
# with-replacement draws, but for large n the per-row resample weight
# converges to Poisson(1) — so each row independently draws a weight
# per replicate and the whole bootstrap is ONE pass with no
# coordination (the reason it's the standard at cluster scale).
# Weights are DETERMINISTIC here: the uniform is md5(row, replicate)
# reduced to integer millionths, inverted through the exact-millionth
# Poisson(1) CDF thresholds (floor(1e6·e^-1·Σ1/k!)):
#   u < 367879 → 0, < 735758 → 1, < 919698 → 2, < 981011 → 3, else 4.
_BOOT_R = 16
_BOOT_THRESH = (367879, 735758, 919698, 981011)

_BOOT_CASE = (
    "CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1 "
    "WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3 ELSE 4 END"
)

_BOOT_ORACLE = f"""
WITH draws AS (
  SELECT r.r,
         CAST(ROUND(100 * o_totalprice) AS BIGINT) AS v,
         CAST(concat('0x', substring(md5(concat(CAST(o_orderkey AS VARCHAR),
                                                ':', CAST(r.r AS VARCHAR))),
                     1, 15)) AS BIGINT) % 1000000 AS u
  FROM orders, unnest(range(0, {_BOOT_R})) AS r(r)
),
rep AS (
  SELECT r,
         CAST(SUM(({_BOOT_CASE}) * v) AS BIGINT) AS s,
         CAST(SUM({_BOOT_CASE}) AS BIGINT) AS n
  FROM draws GROUP BY r
),
means AS (SELECT r, CAST(s AS DOUBLE) / n AS m FROM rep)
SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
       ROUND(AVG(m), 4) AS boot_mean_c,
       ROUND(sqrt((SUM(m * m) - COUNT(*) * AVG(m) * AVG(m)) / (COUNT(*) - 1)), 4)
           AS boot_se_c
FROM means
"""


@register("b_agg_poisson_bootstrap", oracle=_BOOT_ORACLE, tags=("agg", "bootstrap", "stats"))
def b_agg_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C252: Poisson-bootstrap standard error of the mean order value
    — the ONE-PASS distributed bootstrap (per-row Poisson(1) weights
    approximate with-replacement resampling without any coordination,
    which is why it is the technique of record at cluster scale;
    Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012 [pub]).  Fully deterministic: the uniform
    is md5(orderkey:replicate) in integer millionths inverted through
    exact-millionth Poisson CDF thresholds, so both engines draw
    IDENTICAL weights and the whole contract carries a hash oracle —
    a seeded-RNG bootstrap could never cross engines.

    Scale shape: the replicate fan-out is a 16-way map-side explode;
    each replicate reduces to (Σwv, Σw) partials — one shuffle of
    16 tiny rows; no data ever re-reads."""
    o = load_table(spark, sf_dir, "orders")
    reps = F.explode(F.array(*[F.lit(r) for r in range(_BOOT_R)])).alias("r")
    draws = (
        o.select(
            cents("o_totalprice").alias("v"),
            F.col("o_orderkey").cast("string").alias("k"),
        )
        .select("v", "k", reps)
        .select(
            "v",
            "r",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("k"), F.lit(":"), F.col("r").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 1000000
            ).alias("u"),
        )
    )
    wgt = F.expr(_BOOT_CASE)
    rep = draws.groupBy("r").agg(
        F.sum(wgt * F.col("v")).cast("bigint").alias("s"),
        F.sum(wgt).cast("bigint").alias("n"),
    )
    means = rep.select((F.col("s").cast("double") / F.col("n")).alias("m"))
    return means.agg(
        F.count("*").cast("bigint").alias("n_replicates"),
        F.round(F.avg("m"), 4).alias("boot_mean_c"),
        F.round(
            F.sqrt(
                (F.sum(F.col("m") * F.col("m")) - F.count("*") * F.avg("m") * F.avg("m"))
                / (F.count("*") - 1)
            ),
            4,
        ).alias("boot_se_c"),
    )


# --- Pricing-rollup delta-maintenance certification (C260) --------------------

# The served flagship (C257, sources/bucketed.py) claims its day-level
# rollup is "delta-maintainable by SUM-of-partials".  This key
# CERTIFIES that algebra end to end with a hash oracle: lineitem is
# split at a shipdate cutoff into BASE and DELTA, each is rolled up to
# the serving artifact's exact schema independently, the two partial
# frames MERGE by a union + re-aggregate keyed on (day, flag, status)
# — the C81 b_ts_rollup_incremental fold, at the pricing rollup's
# grain — and the merged rollup serves the Q1 pricing summary.  The
# oracle recomputes from the FULL table, so a hash match proves
# merge(rollup(base), rollup(delta)) == rollup(base ∪ delta) on every
# measure, including the exact scaled-integer carriers.  At 100 TB
# the DELTA side is the day's new partitions and BASE is the standing
# artifact: the fold touches |delta days|×6 partial rows, never the
# history.
_CUTOFF = "1996-01-01"


@register(
    "b_agg_rollup_maintain",
    oracle=PRICING_SUMMARY_ORACLE,
    tags=("agg", "served", "incremental"),
)
def b_agg_rollup_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C260: delta-fold maintenance of the pricing rollup — see the
    block comment above.  Result contract = b_agg_groupby (shared
    PRICING_SUMMARY_ORACLE)."""
    from stellarsql_spark.functions.exact import require_ansi

    require_ansi(spark)
    li = load_table(spark, sf_dir, "lineitem")
    ep, dc, tx, qt = (
        cents(c) for c in ("l_extendedprice", "l_discount", "l_tax", "l_quantity")
    )

    def rollup(side: DataFrame) -> DataFrame:
        return side.groupBy("l_shipdate", "l_returnflag", "l_linestatus").agg(
            F.sum(qt).alias("qt_s"),
            F.sum(ep).alias("ep_s"),
            F.sum(ep * (100 - dc)).alias("dp_s"),
            F.sum(ep * (100 - dc) * (100 + tx)).alias("ch_s"),
            F.sum(dc).alias("dc_s"),
            F.count("l_quantity").alias("n_qt"),
            F.count("l_extendedprice").alias("n_ep"),
            F.count("l_discount").alias("n_dc"),
            F.count("*").alias("n_rows"),
        )

    base = rollup(li.where(F.col("l_shipdate") < _CUTOFF))
    delta = rollup(li.where(F.col("l_shipdate") >= _CUTOFF))
    merged = (
        base.unionByName(delta)
        .groupBy("l_shipdate", "l_returnflag", "l_linestatus")
        .agg(
            *[
                F.sum(c).alias(c)
                for c in (
                    "qt_s", "ep_s", "dp_s", "ch_s", "dc_s",
                    "n_qt", "n_ep", "n_dc", "n_rows",
                )
            ]
        )
    )
    return (
        merged.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum("qt_s") / 100.0).cast("double").alias("sum_qty"),
            (F.sum("ep_s") / 100.0).cast("double").alias("sum_base_price"),
            (F.sum("dp_s") / 10000.0).cast("double").alias("sum_disc_price"),
            (F.sum("ch_s") / 1000000.0).cast("double").alias("sum_charge"),
            ((F.sum("qt_s") / 100.0).cast("double") / F.sum("n_qt"))
            .cast("double")
            .alias("avg_qty"),
            ((F.sum("ep_s") / 100.0).cast("double") / F.sum("n_ep"))
            .cast("double")
            .alias("avg_price"),
            ((F.sum("dc_s") / 100.0).cast("double") / F.sum("n_dc"))
            .cast("double")
            .alias("avg_disc"),
            F.sum("n_rows").cast("bigint").alias("count_order"),
        )
    )
