"""Window functions (SURVEY.md §2 B23–B27).

Each window shuffles once on its partition key then sorts within the
partition — at scale the partition key choice (user_id, custkey,
nation) is what bounds memory; all keys here are high-cardinality
relative to data volume so partitions stay small. Ties are always
broken by a unique key so results are deterministic cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents
from stellarsql_spark.registry import register

_B23_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       ROW_NUMBER()  OVER w AS rn,
       RANK()        OVER w AS rnk,
       DENSE_RANK()  OVER w AS drnk,
       NTILE(4)      OVER w AS quartile
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
"""


@register("b_win_rank", oracle=_B23_ORACLE, tags=("window", "rank"))
def b_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions with a unique tie-break key."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


_B24_ORACLE = """
SELECT event_id, user_id, ts, event_type,
       LAG(ts)  OVER w AS prev_ts,
       LEAD(ts) OVER w AS next_ts,
       epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us,
       FIRST_VALUE(event_type) OVER w AS first_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("b_win_laglead", oracle=_B24_ORACLE, tags=("window", "analytic"))
def b_win_laglead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first per-user event deltas."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        prev_ts.alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (F.unix_micros("ts") - F.unix_micros(prev_ts)).alias("gap_us"),
        F.first("event_type").over(w).alias("first_type"),
    )


_B25_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
FROM orders
WHERE o_custkey < 300
"""


@register("b_win_running_sum", oracle=_B25_ORACLE, tags=("window", "frame"))
def b_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame (exact decimal)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias(
            "running_spend"
        ),
        F.count("*").over(w).alias("running_n"),
    )


_B26_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS hour_n
FROM events
"""


@register("b_win_moving_avg", oracle=_B26_ORACLE, tags=("window", "frame"))
def b_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate with a RANGE frame over event-time seconds
    (trailing 1 hour per user)."""
    e = load_table(spark, sf_dir, "events").withColumn("epoch_usec", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("epoch_usec").rangeBetween(-3_600_000_000, 0)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("hour_sum"),
        F.count("*").over(w).alias("hour_n"),
    )


_B27_ORACLE = """
SELECT c_custkey, c_nationkey, c_acctbal,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
"""


@register("b_win_dist", oracle=_B27_ORACLE, tags=("window", "dist"))
def b_win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist — distribution functions (exact: both
    engines compute integer-rank ratios in double)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


_NTILE_ORACLE = """
SELECT c_custkey, c_nationkey,
       NTILE(4)  OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS quartile,
       NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
FROM customer
"""


@register("b_win_ntile", oracle=_NTILE_ORACLE, tags=("window", "ntile"))
def b_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing — per-nation quartiles and global deciles. The
    sort key includes the unique c_custkey so tie order (and therefore
    bucket assignment) is engine-independent. The global decile runs
    through functions/prefix.py's ordered_ntile (exact NTILE bucket
    arithmetic over the two-pass scalable rank), so it no longer
    funnels |customers| through one window task — what used to be
    "the one justified single-partition window in the suite" is now
    just another scalable rank."""
    from stellarsql_spark.functions.prefix import ordered_ntile

    c = load_table(spark, sf_dir, "customer")
    by_nation = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    quart = c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(by_nation).alias("quartile"),
    )
    return ordered_ntile(
        quart, [F.col("c_acctbal"), F.col("c_custkey")], 10, "decile"
    ).select("c_custkey", "c_nationkey", "quartile", "decile")


# C94 — time-interval RANGE frame: "activity in the preceding hour"
# per event, the time-based sliding aggregate that row-count frames
# cannot express (event spacing is irregular).  RANGE frames
# aggregate ORDER-BY peers together, so ties on ts are deterministic
# by construction; the decimal cast keeps the money sum exact.
_TIME_RANGE_ORACLE = """
SELECT event_id,
       user_id,
       COUNT(*) OVER w AS n_prev_hour,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS val_prev_hour
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts
  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
)
"""


@register("b_win_time_range", oracle=_TIME_RANGE_ORACLE, tags=("window", "range", "timeseries"))
def b_win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C94: RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW —
    identical WINDOW clause text on both engines (Spark SQL and
    DuckDB both accept the interval-bounded RANGE frame over a
    timestamp order key)."""
    from stellarsql_spark.catalog import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_TIME_RANGE_ORACLE)


# --- Pareto frontier (skyline) ---------------------------------------

_SKYLINE_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_orderdate, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_custkey < 1000
),
s AS (
  SELECT o_orderkey, o_orderdate, price,
         MAX(price) OVER (ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM o
)
SELECT o_orderkey, o_orderdate, price
FROM s WHERE prev_max IS NULL OR price > prev_max
"""


@register("b_win_skyline", oracle=_SKYLINE_ORACLE, tags=("window", "skyline", "pareto"))
def b_win_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C144: 2-D Pareto frontier (skyline) — the orders no other
    earlier-or-equal order dominates on (earlier date, higher price):
    one ordered scan keeping a running prior maximum (the staircase
    algorithm), frontier = rows exceeding it. Deterministic via the
    (date, orderkey) total order; the exclusive ROWS frame makes
    "prior" precise on date ties in both engines.

    Scale note: the staircase is inherently sequential, so THIS form
    uses one global ordered window — fine for the bounded slice a
    skyline is usually asked of (top customers, one segment). The
    100 TB form pre-aggregates max(price) per date (a keyed, parallel
    rollup that loses no frontier point, since domination only looks
    at the per-date maximum), staircases over the ~thousands of date
    buckets, and broadcast-joins the tiny frontier staircase back to
    filter the fact table — same three-step shape as the time-series
    rollup-reuse key."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 1000)
        .select("o_orderkey", "o_orderdate", F.col("o_totalprice").cast("double").alias("price"))
    )
    w = (
        Window.orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = o.select("o_orderkey", "o_orderdate", "price", F.max("price").over(w).alias("prev_max"))
    return s.where(F.col("prev_max").isNull() | (F.col("price") > F.col("prev_max"))).select(
        "o_orderkey", "o_orderdate", "price"
    )


# --- Gaps and islands: order streaks (C201) --------------------------------

_STREAK_TOPN = 20

# The canonical gaps-and-islands pattern: maximal runs of CONSECUTIVE
# order days per customer.  island_id = epoch_day − dense-rank (a
# constant within each consecutive run), so islands fall out of one
# window + one groupBy — no self-join, no recursion.  Distinct from
# b_ev_sessionize (gap-threshold sessions on a continuous timeline):
# this is the integer-consecutiveness form (login streaks, attendance,
# inventory runs).
_STREAK_ORACLE = f"""
WITH days AS (
  SELECT DISTINCT o_custkey,
         CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d
  FROM orders
),
isl AS (
  SELECT o_custkey, d,
         d - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d) AS island
  FROM days
),
streaks AS (
  SELECT o_custkey, island,
         CAST(COUNT(*) AS BIGINT) AS len_days,
         CAST(MIN(d) AS BIGINT) AS start_d,
         CAST(MAX(d) AS BIGINT) AS end_d
  FROM isl GROUP BY o_custkey, island
)
SELECT o_custkey, len_days, start_d, end_d, CAST(rn AS INT) AS rn FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY len_days DESC, o_custkey, start_d) AS rn
  FROM streaks
) WHERE rn <= {_STREAK_TOPN}
"""


@register("b_win_gaps_islands", oracle=_STREAK_ORACLE, tags=("window", "islands", "streaks"))
def b_win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C201: gaps-and-islands — the top consecutive-day order streaks
    per customer via the day − row_number island constant.  One
    customer-keyed window plus one (customer, island) rollup; never a
    self-join or recursion.  The integer-run companion to
    b_ev_sessionize's gap-threshold sessions.

    Scale shape: the distinct (customer, day) rollup is the
    data-sized shuffle; the island window runs per customer; the
    global top-20 is a WindowGroupLimit-style rank prune."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    days = o.select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("d"),
    ).distinct()
    wc = Window.partitionBy("o_custkey").orderBy("d")
    isl = days.withColumn("island", F.col("d") - F.row_number().over(wc))
    streaks = isl.groupBy("o_custkey", "island").agg(
        F.count("*").cast("bigint").alias("len_days"),
        F.min("d").cast("bigint").alias("start_d"),
        F.max("d").cast("bigint").alias("end_d"),
    )
    wr = Window.orderBy(F.col("len_days").desc(), "o_custkey", "start_d")
    return (
        streaks.orderBy(F.col("len_days").desc(), "o_custkey", "start_d")
        .limit(_STREAK_TOPN)
        .withColumn("rn", F.row_number().over(wr).cast("int"))
        .select("o_custkey", "len_days", "start_d", "end_d", "rn")
    )


# --- Share-of-total window columns (C244) --------------------------------------------

# The BI idiom behind every "% of category" column: each row's share
# of its partition total and its cumulative share in rank order, as
# EXACT integer millionths (cross-multiplied — the window carries
# sums, the division happens once per row on exact longs).
_SHARE_ORACLE = """
WITH rev AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS status,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
)
SELECT pri, status, v,
       CAST((1000000 * CAST(v AS HUGEINT)) // SUM(v) OVER (PARTITION BY pri)
            AS BIGINT) AS share_m,
       CAST((1000000 * CAST(SUM(v) OVER (PARTITION BY pri ORDER BY v DESC, status
                                         ROWS UNBOUNDED PRECEDING) AS HUGEINT))
            // SUM(v) OVER (PARTITION BY pri) AS BIGINT) AS cum_share_m
FROM rev ORDER BY pri, v DESC, status
"""


@register("b_win_share_of_total", oracle=_SHARE_ORACLE, tags=("window", "share"))
def b_win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C244: share-of-total and cumulative-share window columns — each
    (priority, status) revenue cell as a millionth share of its
    priority's total, plus the running share in (v DESC, status)
    order (the Pareto-curve reading).  Exact: the windows carry
    integer-cent SUMS; each share is one integer division of exact
    integers, never a float ratio.  The cross-multiply runs in
    DECIMAL(38,0)/HUGEINT carriers (the sibling C216/C217/C243 rule):
    1e6·cum is the running per-priority revenue in millionths of a
    cent, which crosses int64 around sf1-2 — BIGINT would wrap
    silently on the Spark side (ANSI off) while DuckDB errors.

    Scale shape: the rollup collapses the corpus map-side to 15
    cells; both windows run over those 15 rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.sum(cents("o_totalprice")).alias("v"))
    wp = Window.partitionBy("pri")
    wc = (
        Window.partitionBy("pri")
        .orderBy(F.desc("v"), F.asc("status"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.select(
            "pri",
            "status",
            "v",
            F.sum("v").over(wp).cast("bigint").alias("tot"),
            F.sum("v").over(wc).cast("bigint").alias("cum"),
        )
        .select(
            "pri",
            "status",
            "v",
            F.expr("(1000000 * CAST(v AS DECIMAL(38,0))) div tot")
            .cast("bigint")
            .alias("share_m"),
            F.expr("(1000000 * CAST(cum AS DECIMAL(38,0))) div tot")
            .cast("bigint")
            .alias("cum_share_m"),
        )
    )
