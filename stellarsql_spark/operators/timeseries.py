"""Time-series reshaping over the events stream table: calendar
gap-fill and fixed-interval resampling — the hypertable-style rollups
a metrics pipeline needs.

Gap-fill generates the full calendar spine with `sequence` (JVM-side,
no driver loop) and left-joins actuals onto it; at scale the spine is
tiny (one row per bucket) and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents
from stellarsql_spark.registry import register

_GAPFILL_ORACLE = """
WITH spine AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-30 23:00:00',
                                INTERVAL 1 HOUR)) AS bucket
),
actual AS (
  SELECT DATE_TRUNC('hour', ts) AS bucket,
         COUNT(*) AS n_raw,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_raw
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)
SELECT s.bucket, COALESCE(a.n_raw, 0) AS n_events, COALESCE(a.v_raw, 0.0) AS total_value
FROM spine s LEFT JOIN actual a ON s.bucket = a.bucket
"""


@register("b_ts_gapfill", oracle=_GAPFILL_ORACLE, tags=("timeseries", "gapfill"))
def b_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled hourly rollup: calendar spine ⟕ actual buckets.
    Buckets with no purchases appear with 0 counts."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    actual = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.count("*").alias("n_raw"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v_raw"),
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.lit("2024-01-30 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket")
    )
    return spine.join(actual, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("n_raw"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("v_raw"), F.lit(0.0)).alias("total_value"),
    )


# Linear interpolation is exact across engines: the numerator
# v_prev·(n−k) + v_next·k stays in DECIMAL (exact), is cast to DOUBLE
# (magnitudes << 2^53, lossless), and one IEEE division by the integer
# gap length produces the same bits in Spark and DuckDB — no rounding
# epsilon needed.
_INTERP_ORACLE = """
WITH spine AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-30 23:00:00',
                                INTERVAL 1 HOUR)) AS bucket
),
actual AS (
  SELECT DATE_TRUNC('hour', ts) AS bucket,
         SUM(CAST(value AS DECIMAL(18,2))) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
joined AS (
  SELECT s.bucket, a.v, epoch_us(s.bucket) // 3600000000 AS hr
  FROM spine s LEFT JOIN actual a ON s.bucket = a.bucket
),
bracketed AS (
  SELECT bucket, v, hr,
         last_value(v IGNORE NULLS) OVER (
           ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
         last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
           ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hr_prev,
         first_value(v IGNORE NULLS) OVER (
           ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
         first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
           ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hr_next
  FROM joined
)
SELECT bucket,
       CASE
         WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
         WHEN v_prev IS NOT NULL AND v_next IS NOT NULL THEN
           CAST(v_prev * (hr_next - hr) + v_next * (hr - hr_prev) AS DOUBLE)
             / (hr_next - hr_prev)
         WHEN v_prev IS NOT NULL THEN CAST(v_prev AS DOUBLE)
         ELSE CAST(v_next AS DOUBLE)
       END AS filled_value,
       CASE
         WHEN v IS NOT NULL THEN 'actual'
         WHEN v_prev IS NOT NULL AND v_next IS NOT NULL THEN 'interp'
         WHEN v_prev IS NOT NULL THEN 'locf'
         ELSE 'backfill'
       END AS fill_src
FROM bracketed
"""


@register("b_ts_interpolate", oracle=_INTERP_ORACLE, tags=("timeseries", "interpolate", "window"))
def b_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap interpolation: hourly purchase totals on the calendar spine,
    missing buckets filled by LINEAR interpolation between the
    bracketing observations (LOCF/backfill at the edges), each row
    tagged with its fill source. The bracketing values come from
    ignore-nulls running windows — two passes over the spine, no
    self-join. Scale shape: the spine is one row per bucket (tiny);
    a per-series deployment adds the series key to the window
    partitioning and keeps the same single-shuffle plan."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    actual = e.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v")
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.lit("2024-01-30 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket")
    )
    j = spine.join(actual, "bucket", "left").withColumn(
        "hr", F.expr("unix_micros(bucket) div 3600000000")
    )
    w_prev = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("bucket").rowsBetween(0, Window.unboundedFollowing)
    hr_obs = F.when(F.col("v").isNotNull(), F.col("hr"))
    b = j.select(
        "bucket",
        "v",
        "hr",
        F.last("v", ignorenulls=True).over(w_prev).alias("v_prev"),
        F.last(hr_obs, ignorenulls=True).over(w_prev).alias("hr_prev"),
        F.first("v", ignorenulls=True).over(w_next).alias("v_next"),
        F.first(hr_obs, ignorenulls=True).over(w_next).alias("hr_next"),
    )
    both = F.col("v_prev").isNotNull() & F.col("v_next").isNotNull()
    interp = (
        F.col("v_prev") * (F.col("hr_next") - F.col("hr"))
        + F.col("v_next") * (F.col("hr") - F.col("hr_prev"))
    ).cast("double") / (F.col("hr_next") - F.col("hr_prev"))
    return b.select(
        "bucket",
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(both, interp)
        .when(F.col("v_prev").isNotNull(), F.col("v_prev").cast("double"))
        .otherwise(F.col("v_next").cast("double"))
        .alias("filled_value"),
        F.when(F.col("v").isNotNull(), F.lit("actual"))
        .when(both, F.lit("interp"))
        .when(F.col("v_prev").isNotNull(), F.lit("locf"))
        .otherwise(F.lit("backfill"))
        .alias("fill_src"),
    )


_RESAMPLE_ORACLE = """
SELECT user_id,
       time_bucket(INTERVAL '6 hours', ts) AS bucket,
       COUNT(*) AS n_events,
       CAST(MAX(value) AS DOUBLE) AS peak_value
FROM events
GROUP BY 1, 2
"""


@register("b_ts_resample", oracle=_RESAMPLE_ORACLE, tags=("timeseries", "resample"))
def b_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 6-hour resampling per user (window() tumbling buckets)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.window("ts", "6 hours").alias("w"))
        .agg(F.count("*").alias("n_events"), F.max("value").cast("double").alias("peak_value"))
        .select("user_id", F.col("w.start").alias("bucket"), "n_events", "peak_value")
    )


_ROLLUP_REUSE_ORACLE = """
SELECT DATE_TRUNC('day', ts) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY day, event_type
"""


@register("b_ts_rollup_reuse", oracle=_ROLLUP_REUSE_ORACLE, tags=("timeseries", "rollup"))
def b_ts_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable-rollup) pattern: answer a
    day-grain query by RE-AGGREGATING an hour-grain rollup instead of
    the raw events. Count and decimal-sum are mergeable, so the result
    is exactly the direct day aggregate (the oracle IS the direct
    form). At 100 TB the hourly rollup is a materialized table ~1000×
    smaller than the log; every coarser query reads it, not the raw
    events."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v_sum"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", F.col("hour")).alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("v_sum").cast("double").alias("total_value"),
        )
    )


# Truncated EWMA with α = 1/2: weights are negative powers of two, so
# every term v/2^(k+1) is an EXACT double halving and the fixed
# left-to-right sum gives bit-identical results in both engines — the
# rare smoothing kernel that is hash-oracle-able with no epsilon.
_EWMA_LAGS = 8

_EWMA_ORACLE = f"""
WITH daily AS (
  SELECT DATE_TRUNC('day', ts) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)
SELECT day, v,
       {" + ".join(f"COALESCE(LAG(v, {k}) OVER (ORDER BY day), 0.0) / {2 ** (k + 1)}" for k in range(_EWMA_LAGS))}
         AS ewma
FROM daily
"""


@register("b_ts_ewma", oracle=_EWMA_ORACLE, tags=("timeseries", "ewma", "window"))
def b_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily purchase volume,
    truncated at 8 lags (zero-padded history): ewma_t = Σ v_{t-k}/2^
    (k+1). One lag window over the already-tiny daily rollup; at 100
    TB the rollup is the stored hypertable aggregate, one row per
    (series, day)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v")
    )
    w = Window.orderBy("day")
    ewma = None
    for k in range(_EWMA_LAGS):
        term = F.coalesce(F.lag("v", k).over(w), F.lit(0.0)) / F.lit(2 ** (k + 1))
        ewma = term if ewma is None else ewma + term
    return daily.select("day", "v", ewma.alias("ewma"))


# C81 — incremental materialized-rollup maintenance: the lambda /
# delta pattern every 100 TB pipeline runs nightly.  The hour-grain
# rollup is MATERIALIZED to parquet from the "already ingested" slice
# (event_id % 10 < 8 — a deterministic stand-in for "rows before the
# high-water mark"), then the late-arriving delta (% 10 >= 8) is
# aggregated alone and MERGED by re-aggregation.  Because count and
# cent-sum are algebraically mergeable, the maintained rollup must
# equal the from-scratch rollup bit-for-bit — which is exactly what
# the oracle computes.  Cost model at scale: the nightly job touches
# |delta| + |rollup| rows instead of |history|.
_INCREMENTAL_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS bucket, event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) AS total_value
FROM events
GROUP BY bucket, event_type
"""


@register("b_ts_rollup_incremental", oracle=_INCREMENTAL_ORACLE, tags=("timeseries", "rollup", "incremental"))
def b_ts_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C81: delta-maintained hourly rollup == from-scratch rollup.
    The base slice's rollup round-trips through a real parquet
    materialization (the production artifact), the delta is
    aggregated alone, and the union re-aggregates: SUM of partial
    sums, SUM of partial counts."""
    import os

    from stellarsql_spark.sources.io import _scratch

    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("bucket"),
        "event_type",
        "event_id",
        cents("value").alias("cts"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("bucket", "event_type").agg(
            F.count("*").alias("n_events"), F.sum("cts").alias("sum_cts")
        )

    base_dir = os.path.join(_scratch("rollup_incremental"), "base")
    rollup(e.where(F.col("event_id") % 10 < 8)).write.mode("overwrite").parquet(base_dir)
    base = spark.read.parquet(base_dir)
    delta = rollup(e.where(F.col("event_id") % 10 >= 8))
    return (
        base.unionByName(delta)
        .groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            (F.sum("sum_cts") / 100.0).cast("double").alias("total_value"),
        )
    )


_CALENDAR_ORACLE = """
WITH days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                     INTERVAL 1 DAY)) AS DATE) AS d
),
cal AS (
  SELECT d,
         isodow(d) AS iso_dow,
         CASE WHEN isodow(d) >= 6 THEN TRUE ELSE FALSE END AS is_weekend,
         CAST(date_part('week', d) AS INT) AS iso_week
  FROM days
)
SELECT CAST(cal.d AS VARCHAR) AS day,
       cal.iso_dow,
       cal.is_weekend,
       cal.iso_week,
       COUNT(e.event_id) AS n_events,
       CAST(COALESCE(SUM(CAST(ROUND(e.value * 100) AS BIGINT)), 0) AS DOUBLE)
         / 100.0 AS day_value
FROM cal LEFT JOIN events e ON CAST(e.ts AS DATE) = cal.d
GROUP BY cal.d, cal.iso_dow, cal.is_weekend, cal.iso_week
"""


@register("b_ts_calendar_dim", oracle=_CALENDAR_ORACLE, tags=("timeseries", "calendar", "generate"))
def b_ts_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C118: generated calendar dimension — the conformed date spine
    every warehouse keeps, built IN-ENGINE from sequence() (no seed
    table), attributed with ISO weekday/weekend/week, then LEFT
    joined to the fact so empty days survive with zero counts (the
    property gap-filling needs and a naive GROUP BY loses). January
    2024 covers the corpus's first month at every SF. The spine is
    31 rows — broadcast side of the join; the fact side aggregates
    map-side per day before the join at scale (here the join IS the
    aggregation's input, one shuffle total)."""
    ev = load_table(spark, sf_dir, "events")
    cal = spark.sql(
        """
        SELECT d,
               CASE WHEN dayofweek(d) = 1 THEN 7 ELSE dayofweek(d) - 1 END
                 AS iso_dow,
               dayofweek(d) IN (1, 7) AS is_weekend,
               CAST(weekofyear(d) AS INT) AS iso_week
        FROM (
          SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-31',
                                  INTERVAL 1 DAY)) AS d
        ) s
        """
    )
    return (
        F.broadcast(cal)
        .join(ev, F.to_date(ev.ts) == cal.d, "left")
        .groupBy("d", "iso_dow", "is_weekend", "iso_week")
        .agg(
            F.count("event_id").alias("n_events"),
            (F.coalesce(F.sum(cents("value")), F.lit(0)) / 100.0)
            .cast("double")
            .alias("day_value"),
        )
        .select(
            F.col("d").cast("string").alias("day"),
            "iso_dow",
            "is_weekend",
            "iso_week",
            "n_events",
            "day_value",
        )
    )


# --- robust outlier detection (median / MAD) -------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, CAST(MEDIAN(CAST(value AS DOUBLE)) AS DOUBLE) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, ABS(CAST(e.value AS DOUBLE) - m.med) AS d, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, CAST(MEDIAN(d) AS DOUBLE) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n,
       ROUND(MIN(d.med), 6) AS med_value,
       ROUND(MIN(m.mad), 6) AS mad_value,
       CAST(SUM(CASE WHEN d.d > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register("b_ts_outlier_mad", oracle=_MAD_ORACLE, tags=("timeseries", "robust", "outlier"))
def b_ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C136: robust outlier detection via median/MAD — the
    breakdown-resistant twin of b_ev_anomaly's z-score (one far
    outlier inflates a stddev but moves a median by at most one rank,
    so MAD keeps flagging when moments saturate). Flags values beyond
    3 scaled MADs (×1.4826 = consistency constant for normal data).

    Determinism: medians over the same multiset of doubles agree
    across engines (both midpoint-interpolate even counts); every
    derived number is arithmetic on those identical doubles.

    Scale shape: two median passes + one census, each a per-type
    aggregation; the 5-row median tables re-join the stream as
    BROADCASTs, so the events table is scanned map-side three times
    and never shuffled on anything but event_type. At 100 TB the
    exact medians swap for approx_percentile(0.5) (b_agg_percentiles'
    t-digest path) with the identical plan shape."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    med = ev.groupBy("event_type").agg(F.median("v").cast("double").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("v") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(F.median("d").cast("double").alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.min("med"), 6).alias("med_value"),
        F.round(F.min("mad"), 6).alias("mad_value"),
        F.sum(F.when(F.col("d") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)).alias(
            "n_outliers"
        ),
    )


# --- seasonal-naive forecast backbone --------------------------------

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
forecast AS (
  SELECT event_type, day, cents,
         LAG(cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred
  FROM daily
)
SELECT event_type,
       COUNT(pred) AS n_scored_days,
       CAST(CAST(SUM(ABS(cents - pred)) AS BIGINT) / 100.0 / COUNT(pred) AS DOUBLE) AS mae,
       ROUND(CAST(SUM(ABS(cents - pred)) AS BIGINT)
             / CAST(SUM(CASE WHEN pred IS NOT NULL THEN ABS(cents) END) AS BIGINT), 6) AS wape
FROM forecast
GROUP BY event_type
"""


@register("b_ts_seasonal_naive", oracle=_SEASONAL_ORACLE, tags=("timeseries", "forecast"))
def b_ts_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C143: seasonal-naive forecast backbone — predict each day's
    per-type total with the same weekday last week (lag-7 over the
    daily series) and score the forecast historically with MAE and
    WAPE. This is the baseline every production forecast must beat,
    and the backtest scaffolding (daily rollup → lagged join →
    error rollup) is the same plan a real model's evaluation runs.
    Exactness: daily totals are integer cents, lag differences are
    integers, and both error metrics divide exact integer sums — no
    float accumulation anywhere. Scale shape: one fact rollup to
    (type, day) granularity (tiny), one partition-local window, one
    5-row rollup; the fact scan is the only data-sized pass."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents("value")).alias("cents"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("day")
    fc = daily.select(
        "event_type", "cents", F.lag("cents", 7).over(w).alias("pred")
    )
    err = F.abs(F.col("cents") - F.col("pred"))
    return fc.groupBy("event_type").agg(
        F.count("pred").alias("n_scored_days"),
        (F.sum(err).cast("bigint") / 100.0 / F.count("pred")).cast("double").alias("mae"),
        F.round(
            F.sum(err).cast("bigint")
            / F.sum(F.when(F.col("pred").isNotNull(), F.abs(F.col("cents")))).cast("bigint"),
            6,
        ).alias("wape"),
    )


# --- lag-k autocorrelation -------------------------------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
lagged AS (
  SELECT k, cents AS x,
         LAG(cents, k) OVER (PARTITION BY k ORDER BY day) AS y
  FROM daily CROSS JOIN (VALUES (1), (2), (3), (7)) ks(k)
),
s AS (
  SELECT k, COUNT(y) AS n,
         CAST(SUM(CASE WHEN y IS NOT NULL THEN CAST(x AS DECIMAL(38,0)) END) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CASE WHEN y IS NOT NULL THEN CAST(x AS DECIMAL(38,0)) * x END) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy
  FROM lagged GROUP BY k
)
SELECT k, n,
       ROUND((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS autocorr
FROM s
"""


@register("b_ts_autocorr", oracle=_AUTOCORR_ORACLE, tags=("timeseries", "autocorr"))
def b_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C146: lag-k autocorrelation of the daily total series (k = 1,
    2, 3, 7) — the diagnostic that tells a forecaster whether
    yesterday or last week predicts today (and the quantitative
    justification for b_ts_seasonal_naive's lag-7 choice). Same
    exactness discipline as the correlation matrix: integer-cents
    daily sums, DECIMAL(38)/HUGEINT moment sums per lag, one double
    conversion at the end — bit-identical in both engines. Scale
    shape: the fact rollup to days is the only data-sized pass;
    the lag windows run over the tiny daily series fanned out 4×
    by the literal lag table."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(cents("value")).alias("cents")
    )
    ks = ev.sparkSession.createDataFrame([(1,), (2,), (3,), (7,)], "k int")
    from pyspark.sql import Window

    # Spark's lag() requires a literal offset (the oracle's LAG(cents,
    # k) is legal in DuckDB), so the column-offset lag is expressed
    # relationally: a self-join on the day ordinal shifted by k —
    # identical semantics, and the join runs over the tiny daily
    # series only.
    ordd = daily.select(
        "day", "cents", F.row_number().over(Window.orderBy("day")).alias("i")
    )
    a = ordd.alias("a")
    b = ordd.alias("b")
    lagged = (
        a.crossJoin(F.broadcast(ks))
        .join(
            b,
            (F.col("b.i") == F.col("a.i") - F.col("k")),
            "left",
        )
        .select("k", F.col("a.cents").alias("x"), F.col("b.cents").alias("y"))
    )
    dec = lambda c: c.cast("decimal(38,0)")
    has = F.col("y").isNotNull()
    s = lagged.groupBy("k").agg(
        F.count("y").alias("n"),
        F.sum(F.when(has, dec(F.col("x")))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(F.when(has, dec(F.col("x")) * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("y")) * F.col("y")).cast("double").alias("syy"),
        F.sum(dec(F.col("x")) * F.col("y")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    return s.select(
        "k", "n",
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("autocorr"),
    )


# --- M4 visualization downsampling (C163) ----------------------------

# M4 (Jugel et al., VLDB 2014, public): per pixel-column time bucket
# keep exactly the min, max, first and last points — the four rows
# that make the downsampled line render pixel-identically to the full
# series.  First/last are ORDER-DEFINED (ts, then event_id for
# duplicate timestamps), encoded as rank-1 window rows in both
# engines; min/max compare stored doubles with no arithmetic, so
# every output value is a verbatim input value and the hash is exact.
_M4_BUCKET_US = 21_600 * 1_000_000  # 6-hour pixel columns

_M4_ORACLE = f"""
WITH pts AS (
  SELECT epoch_us(ts) // {_M4_BUCKET_US} AS bucket, ts, event_id, value
  FROM events WHERE event_type = 'click'
),
ordered AS (
  SELECT bucket, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY ts, event_id) AS rf,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY ts DESC, event_id DESC) AS rl
  FROM pts
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       MIN(value) AS v_min,
       MAX(value) AS v_max,
       MAX(CASE WHEN rf = 1 THEN value END) AS v_first,
       MAX(CASE WHEN rl = 1 THEN value END) AS v_last,
       MAX(CASE WHEN rf = 1 THEN event_id END) AS first_event,
       MAX(CASE WHEN rl = 1 THEN event_id END) AS last_event
FROM ordered
GROUP BY bucket
"""


@register("b_ts_downsample_m4", oracle=_M4_ORACLE, tags=("timeseries", "downsample"))
def b_ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C163: M4 downsampling — the error-free line-chart reduction
    (min/max/first/last per time bucket; Jugel et al., VLDB 2014).
    This is how a dashboard renders a billion-point series with a
    4·pixels-row result: unlike naive averaging it provably preserves
    the rendered pixels of the line.

    100 TB shape: the windows and the rollup share ONE partitioning
    on bucket, so the whole operator is a single exchange (bucket is
    time-derived — on a time-partitioned lake the exchange disappears
    into partition-local work). Per bucket the state is four scalars;
    nothing corpus-sized ever accumulates. The event_id tie-break
    makes first/last deterministic under duplicate timestamps — the
    property the hash oracle actually certifies."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    pts = ev.select(
        F.expr(f"unix_micros(ts) div {_M4_BUCKET_US}").alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    wf = Window.partitionBy("bucket").orderBy("ts", "event_id")
    wl = Window.partitionBy("bucket").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ordered = pts.select(
        "bucket",
        "event_id",
        "value",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return ordered.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_pts"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("v_first"),
        F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("v_last"),
        F.max(F.when(F.col("rf") == 1, F.col("event_id"))).alias("first_event"),
        F.max(F.when(F.col("rl") == 1, F.col("event_id"))).alias("last_event"),
    )


# --- CUSUM changepoint detection on the daily revenue series (C169) --

# Recursion-free CUSUM: the textbook recurrence C_t = max(0, C_{t-1}
# + dev_t) equals S_t - min_{i<=t} S_i for the prefix sums S of the
# deviations — a running sum plus a running min, both plain windows.
# Deviations are scaled by n (dev_t = n·x_t - total) so mean-centering
# stays exact integer cents; the alarm threshold (5 mean-days of
# cumulative excess) scales to 5·total on the same axis.
_CUSUM_ALARM_MEAN_DAYS = 5

_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS x_c
  FROM orders GROUP BY o_orderdate
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(x_c) AS BIGINT) AS total_c
  FROM daily
),
pre AS (
  SELECT day, x_c, n_days, total_c,
         CAST(SUM(n_days * x_c - total_c) OVER (ORDER BY day) AS BIGINT) AS s_c
  FROM daily CROSS JOIN tot
)
SELECT day, x_c, s_c,
       CAST(s_c - MIN(s_c) OVER (ORDER BY day) AS BIGINT) AS cusum_c,
       (s_c - MIN(s_c) OVER (ORDER BY day)) > {_CUSUM_ALARM_MEAN_DAYS} * total_c AS alarm
FROM pre
"""


@register("b_ts_changepoint_cusum", oracle=_CUSUM_ORACLE, tags=("timeseries", "changepoint"))
def b_ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C169: CUSUM changepoint detection over the daily revenue
    series — the classic sequential drift detector (Page 1954,
    public), here in its prefix-sum normal form so it needs NO
    recursion: C_t = S_t − min_{i≤t} S_i for prefix sums S_t of the
    mean-centered deviations, and the alarm fires when the
    cumulative excess tops {_CUSUM_ALARM_MEAN_DAYS} mean-days.

    Exactness: deviations are pre-multiplied by n_days (n·x_t −
    total), keeping mean-centering in exact integer cents — no float
    mean ever enters the running state. Scale shape: the rollup to
    days is the usual partial-agg shuffle; the two windows share ONE
    global time order over |days| rows (series-length, not
    row-count) — at 100 TB the same operator runs per series key
    with partitioned windows, and a single astronomical series uses
    the range-partitioned two-pass prefix scan (b_win_running_sum's
    plan notes)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("x_c")
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x_c").cast("bigint").alias("total_c"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "x_c",
        "n_days",
        "total_c",
        F.sum(F.col("n_days") * F.col("x_c") - F.col("total_c"))
        .over(w)
        .cast("bigint")
        .alias("s_c"),
    )
    run_min = F.min("s_c").over(w)
    return pre.select(
        "day",
        "x_c",
        "s_c",
        (F.col("s_c") - run_min).cast("bigint").alias("cusum_c"),
        ((F.col("s_c") - run_min) > _CUSUM_ALARM_MEAN_DAYS * F.col("total_c")).alias(
            "alarm"
        ),
    )


# --- Classical seasonal decomposition (C171) --------------------------

# STL-style additive decomposition by moving averages (the classical
# `decompose` everybody ships): trend = centered 7-day MA, seasonal =
# per-weekday mean of the detrended series, residual = remainder.
# Exactness ladder: the trend stays UNSCALED integer cents as the
# 7-day SUM (detrended d = 7·x − sum7 multiplies through by 7 instead
# of dividing); weekday is (epoch_days + 4) % 7 pure arithmetic (the
# engines disagree on dayofweek() numbering; 1970-01-01 was a
# Thursday, +4 makes 0 = Sunday); the one division (per-weekday mean)
# happens on exact integer sums in both engines with a single ROUND
# at the 1e6 boundary.
_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS epoch_d,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS x_c
  FROM orders GROUP BY 1, 2
),
tr AS (
  SELECT day, epoch_d, x_c,
         CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(x_c) OVER w AS BIGINT) END AS sum7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT *, CAST((epoch_d + 4) % 7 AS BIGINT) AS dow,
         CAST(7 * x_c - sum7 AS BIGINT) AS d7
  FROM tr
),
seas AS (
  SELECT *,
         CAST(ROUND(1000000 * AVG(d7) OVER (PARTITION BY dow)) AS BIGINT) AS seasonal_m
  FROM det
)
SELECT day, x_c, sum7, dow, seasonal_m,
       CAST(1000000 * d7 - seasonal_m AS BIGINT) AS resid_m
FROM seas
"""


@register("b_ts_seasonal_decompose", oracle=_SEASONAL_ORACLE, tags=("timeseries", "decompose"))
def b_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C171: classical additive seasonal decomposition of the daily
    revenue series — trend (centered 7-day MA), weekly seasonal
    component, residual. This is the diagnostic every metrics
    pipeline runs before anomaly thresholds: b_ev_anomaly's bands and
    b_ts_seasonal_naive's forecast both implicitly assume the
    seasonal component this operator makes explicit.

    Exactness: see _SEASONAL_ORACLE's note — one display-scale ROUND,
    everything else exact integer cents. Scale shape: the day rollup
    is the only data-sized shuffle; the MA window runs in one
    series-length time order, the seasonal mean is a 7-partition
    window — at 100 TB the same plan runs per series key, and the
    weekday means become a 7-row broadcast join."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").alias("day"),
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).cast("bigint").alias("epoch_d"),
    ).agg(F.sum(cents("o_totalprice")).alias("x_c"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "epoch_d",
        "x_c",
        F.when(F.count("*").over(w) == 7, F.sum("x_c").over(w).cast("bigint")).alias(
            "sum7"
        ),
    )
    det = tr.select(
        "*",
        ((F.col("epoch_d") + 4) % 7).cast("bigint").alias("dow"),
        (7 * F.col("x_c") - F.col("sum7")).cast("bigint").alias("d7"),
    )
    wd = Window.partitionBy("dow")
    seas = det.withColumn(
        "seasonal_m", F.round(1_000_000 * F.avg("d7").over(wd)).cast("bigint")
    )
    return seas.select(
        "day",
        "x_c",
        "sum7",
        "dow",
        "seasonal_m",
        (1_000_000 * F.col("d7") - F.col("seasonal_m")).cast("bigint").alias("resid_m"),
    )


# --- Period-over-period growth report (C179) ---------------------------

# The month-over-month / year-over-year revenue report — the single
# most common BI query shape.  Months key as the integer year*100+mo
# (pure arithmetic — engine date_trunc return types differ: DuckDB
# gives DATE, Spark TIMESTAMP).  Growth rates are one division on
# exact integer cents, rounded at the millionth boundary; missing
# comparison periods (first month, first year) stay NULL.
_POP_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS rev_c,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT *,
         LAG(rev_c, 1) OVER (ORDER BY ym) AS prev_mo,
         LAG(rev_c, 12) OVER (ORDER BY ym) AS prev_yr
  FROM monthly
)
SELECT ym, rev_c, n_orders, prev_mo, prev_yr,
       CAST(ROUND(1000000 * (CAST(rev_c - prev_mo AS DOUBLE) / prev_mo)) AS BIGINT) AS mom_m,
       CAST(ROUND(1000000 * (CAST(rev_c - prev_yr AS DOUBLE) / prev_yr)) AS BIGINT) AS yoy_m
FROM lagged
"""


@register("b_ts_period_over_period", oracle=_POP_ORACLE, tags=("timeseries", "report", "growth"))
def b_ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C179: month-over-month and year-over-year revenue growth — the
    canonical BI report (LAG 1 for MoM, LAG 12 for YoY on a monthly
    rollup).  Kept separate from b_win_laglead (row mechanics) and
    b_ts_resample (regridding): this is the composed reporting
    pattern with the growth-rate arithmetic pinned exactly.

    Scale shape: the month rollup is the only data-sized shuffle
    (|months| output rows); both lags run in one window pass over
    that tiny rollup.  Exactness: see _POP_ORACLE's note."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("ym")
    ).agg(
        F.sum(cents("o_totalprice")).alias("rev_c"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = Window.orderBy("ym")
    lagged = monthly.select(
        "*",
        F.lag("rev_c", 1).over(w).alias("prev_mo"),
        F.lag("rev_c", 12).over(w).alias("prev_yr"),
    )
    rate = lambda prev: F.round(
        1_000_000 * (F.col("rev_c") - F.col(prev)).cast("double") / F.col(prev)
    ).cast("bigint")
    return lagged.select(
        "ym", "rev_c", "n_orders", "prev_mo", "prev_yr",
        rate("prev_mo").alias("mom_m"),
        rate("prev_yr").alias("yoy_m"),
    )


# --- Theil-Sen robust trend (C184) --------------------------------------

# Median-of-pairwise-slopes trend estimator (Theil 1950, Sen 1968) —
# the robust alternative to OLS (b_agg_regression): a single
# corrupted month cannot move it.  Slopes are dy/dx on exact longs
# (cents / month-index) — one IEEE division, identical cross-engine;
# the median picks the lower-median ELEMENT (rank ceil(n/2) in
# (slope, i, j) order), so the chosen value is an actual pair's
# slope, reproducible bit-for-bit.
_THEILSEN_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT a.mi AS i, b.mi AS j,
         CAST(b.rev_c - a.rev_c AS DOUBLE) / (b.mi - a.mi) AS slope
  FROM monthly a JOIN monthly b ON a.mi < b.mi
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY slope, i, j) AS rn,
         COUNT(*) OVER () AS n_pairs
  FROM pairs
)
SELECT CAST((SELECT COUNT(*) FROM monthly) AS BIGINT) AS n_months,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(ROUND(1000000 * slope) AS BIGINT) AS slope_m,
       i AS med_i, j AS med_j
FROM ranked WHERE rn = CAST(ceil(n_pairs / 2.0) AS BIGINT)
"""


@register("b_ts_theilsen", oracle=_THEILSEN_ORACLE, tags=("timeseries", "robust", "trend"))
def b_ts_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C184: Theil-Sen robust trend of monthly revenue — the median of
    all pairwise slopes.  Outlier-immune where b_agg_regression's OLS
    is not (breakdown point 29%); the trend number a reporting
    pipeline should alarm on.

    Scale shape: the month rollup collapses the corpus to |months|
    rows; the pair expansion is |months|²/2 over a broadcast of that
    tiny rollup (BroadcastNestedLoopJoin — bounded by the calendar,
    never by the corpus); the median is one rank pick.  Exactness:
    see _THEILSEN_ORACLE's note — the median is an element, not an
    interpolation."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("mi")
    ).agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    n_months = monthly.count()
    a = monthly.select(F.col("mi").alias("i"), F.col("rev_c").alias("ra"))
    b = monthly.select(F.col("mi").alias("j"), F.col("rev_c").alias("rb"))
    pairs = a.join(F.broadcast(b), F.col("i") < F.col("j")).select(
        "i",
        "j",
        ((F.col("rb") - F.col("ra")).cast("double") / (F.col("j") - F.col("i"))).alias(
            "slope"
        ),
    )
    w = Window.orderBy("slope", "i", "j")
    ranked = pairs.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n_pairs"),
    )
    return ranked.where(
        F.col("rn") == F.ceil(F.col("n_pairs") / 2.0).cast("bigint")
    ).select(
        F.lit(n_months).cast("bigint").alias("n_months"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round(1_000_000 * F.col("slope")).cast("bigint").alias("slope_m"),
        F.col("i").alias("med_i"),
        F.col("j").alias("med_j"),
    )


# --- Shipping-delay SLA report (C190) -------------------------------------

# Monthly fulfillment-latency report: days from order to line-item
# ship, per order month — n, mean, and rank-defined p50/p90 (actual
# day values, the b_agg_winsorize cut convention).  Day differences
# are exact integer epoch-day subtraction; the mean divides exact
# long day sums once per month.
_SLA_ORACLE = """
WITH delays AS (
  SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT) AS ym,
         CAST(epoch_us(l.l_shipdate) // 86400000000
              - epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS d
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
grp AS (
  SELECT ym, d, CAST(COUNT(*) AS BIGINT) AS cnt FROM delays GROUP BY ym, d
),
ranked AS (
  SELECT *,
         CAST(SUM(cnt) OVER (PARTITION BY ym ORDER BY d) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY ym) AS BIGINT) AS n,
         CAST(SUM(cnt * d) OVER (PARTITION BY ym) AS BIGINT) AS dsum
  FROM grp
)
SELECT ym, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN 2 * cum >= n THEN d END) AS BIGINT) AS p50_d,
       CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN d END) AS BIGINT) AS p90_d,
       CAST(ROUND(1000000 * CAST(MAX(dsum) AS DOUBLE) / MAX(n)) AS BIGINT) AS mean_m
FROM ranked GROUP BY ym
"""


@register("b_ts_sla_report", oracle=_SLA_ORACLE, tags=("timeseries", "report", "latency"))
def b_ts_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C190: monthly shipping-latency SLA report — count, mean, and
    rank-defined p50/p90 of order-to-ship days per order month.  The
    operational-latency report shape (same math serves API latency,
    ticket resolution, delivery SLAs); composes the fact-to-fact
    co-partitioned join with the grouped rank-cut percentile
    machinery.

    Scale shape: orders⋈lineitem shuffles on the shared order key
    (co-partitioned; the layout twin would bucket both at rest — see
    b_join_inner_bucketed); the (month, delay) rollup bounds the
    window input at months × |distinct delays| rows.  Exactness:
    epoch-day integer subtraction; percentiles are actual day
    values; one rounded division per month."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch_day = lambda c: F.expr(
        f"unix_micros(cast({c} as timestamp)) div 86400000000"
    ).cast("bigint")
    delays = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("ym"),
        (epoch_day("l_shipdate") - epoch_day("o_orderdate")).alias("d"),
    )
    grp = delays.groupBy("ym", "d").agg(F.count("*").cast("bigint").alias("cnt"))
    wp = Window.partitionBy("ym")
    ranked = grp.select(
        "*",
        F.sum("cnt")
        .over(wp.orderBy("d").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.sum("cnt").over(wp).cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("d")).over(wp).cast("bigint").alias("dsum"),
    )
    return ranked.groupBy("ym").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("d")))
        .cast("bigint")
        .alias("p50_d"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("d")))
        .cast("bigint")
        .alias("p90_d"),
        F.round(1_000_000 * F.max("dsum").cast("double") / F.max("n"))
        .cast("bigint")
        .alias("mean_m"),
    )


# --- Maximum drawdown (C194) -----------------------------------------------

# Peak-to-trough maximum drawdown of the cumulative daily revenue
# series — the risk statistic for any cumulative metric (and the
# canonical running-max exercise: dd_t = max_{i<=t} C_i - C_t needs
# one prefix-sum and one prefix-max, no recursion).  Everything is
# exact integer cents until the display ratio.
_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS x_c
  FROM orders GROUP BY 1
),
curve AS (
  SELECT day, x_c,
         CAST(SUM(x_c) OVER (ORDER BY day) AS BIGINT) AS cum_c
  FROM daily
),
dd AS (
  SELECT *, CAST(MAX(cum_c) OVER (ORDER BY day) AS BIGINT) AS peak_c
  FROM curve
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(peak_c - cum_c) AS BIGINT) AS max_dd_c,
       CAST(MAX(peak_c) AS BIGINT) AS final_peak_c,
       CAST(ROUND(1000000 * CAST(MAX(peak_c - cum_c) AS DOUBLE) / MAX(peak_c))
            AS BIGINT) AS max_dd_m
FROM dd
"""


@register("b_ts_drawdown", oracle=_DRAWDOWN_ORACLE, tags=("timeseries", "risk", "drawdown"))
def b_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C194: maximum drawdown of cumulative daily revenue — the
    largest peak-to-trough drop, via prefix-sum + prefix-max (the
    same no-recursion normal form as b_ts_changepoint_cusum, whose
    statistic is the mirror image: C_t = S_t - min prefix).

    Scale shape: day rollup (the only data-sized shuffle), two
    prefix windows over |days| rows, one global reduce.  At 100 TB
    the same plan runs per portfolio/series key with the windows
    partitioned by it."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("x_c")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        F.sum("x_c").over(w).cast("bigint").alias("cum_c"),
    ).select("day", "cum_c", F.max("cum_c").over(w).cast("bigint").alias("peak_c"))
    return dd.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max(F.col("peak_c") - F.col("cum_c")).cast("bigint").alias("max_dd_c"),
        F.max("peak_c").cast("bigint").alias("final_peak_c"),
        F.round(
            1_000_000
            * F.max(F.col("peak_c") - F.col("cum_c")).cast("double")
            / F.max("peak_c")
        )
        .cast("bigint")
        .alias("max_dd_m"),
    )


# --- Seasonal / trend strength (C205) ----------------------------------------

# Hyndman's seasonal-strength measure on the C171 decomposition:
# F_S = max(0, 1 - Var(residual)/Var(detrended)).  Computed in
# TRUNCATED-DOLLAR ×7 space (d7 div 100 — truncating integer division
# is identical cross-engine) so the exact second moments stay inside
# BIGINT: at sf0.1 the detrended dollars are ~1e7, squares ~1e14,
# and n·Σz² ~ 1e18 < 2^63.  (The millionth-scaled C171 columns square
# to ~1e26 — the overflow this scale choice avoids; past ~sf3 swap
# the moment sums to DECIMAL(38,0).)  The seasonal component is the
# per-weekday MEAN rounded to an integer dollar×7 value; additivity
# s + r = d makes Var(detrended) and Var(residual) exact moments of
# the same integer columns, and the strength is one division.
_STL_STRENGTH_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS epoch_d,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS x_c
  FROM orders GROUP BY 1, 2
),
tr AS (
  SELECT day, epoch_d, x_c,
         CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(x_c) OVER w AS BIGINT) END AS sum7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT CAST((epoch_d + 4) % 7 AS BIGINT) AS dow,
         CAST((7 * x_c - sum7) // 100 AS BIGINT) AS d
  FROM tr WHERE sum7 IS NOT NULL
),
seas AS (
  SELECT d,
         d - CAST(ROUND(AVG(d) OVER (PARTITION BY dow)) AS BIGINT) AS r
  FROM det
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(r * r) AS BIGINT) AS srr,
         CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(d * d) AS BIGINT) AS sdd
  FROM seas
)
SELECT n, sr, srr, sd, sdd,
       CAST(ROUND(1000000 * GREATEST(0.0,
            1.0 - (CAST(n AS DOUBLE) * srr - CAST(sr AS DOUBLE) * sr)
                / (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd))) AS BIGINT)
            AS seasonal_strength_m
FROM mom
"""


@register("b_ts_stl_strength", oracle=_STL_STRENGTH_ORACLE, tags=("timeseries", "stl", "strength"))
def b_ts_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C205: seasonal-strength measure on the C171 decomposition —
    F_S = max(0, 1 − Var(residual)/Var(detrended)) (Hyndman &
    Athanasopoulos).  Near 0 = no weekly pattern; near 1 = the weekly
    component explains the detrended series.  The one-number screen
    for "is a seasonal model worth fitting", completing the C171
    family (decompose → measure).

    Exactness + overflow bound: see _STL_STRENGTH_ORACLE's note.
    Scale shape: inherits C171's (day rollup → MA window → weekday
    window) plus a one-row moment reduce."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").alias("day"),
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("epoch_d"),
    ).agg(F.sum(cents("o_totalprice")).alias("x_c"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "epoch_d",
        "x_c",
        F.when(F.count("*").over(w) == 7, F.sum("x_c").over(w).cast("bigint")).alias(
            "sum7"
        ),
    ).where(F.col("sum7").isNotNull())
    det = tr.select(
        ((F.col("epoch_d") + 4) % 7).cast("bigint").alias("dow"),
        F.expr("(7 * x_c - sum7) div 100").cast("bigint").alias("d"),
    )
    wd = Window.partitionBy("dow")
    seas = det.select(
        "d",
        (F.col("d") - F.round(F.avg("d").over(wd)).cast("bigint")).alias("r"),
    )
    mom = seas.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("srr"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
    )
    var_r = F.col("n").cast("double") * F.col("srr") - F.col("sr").cast("double") * F.col("sr")
    var_d = F.col("n").cast("double") * F.col("sdd") - F.col("sd").cast("double") * F.col("sd")
    return mom.select(
        "n", "sr", "srr", "sd", "sdd",
        F.round(1_000_000 * F.greatest(F.lit(0.0), 1.0 - var_r / var_d))
        .cast("bigint")
        .alias("seasonal_strength_m"),
    )


# --- Bollinger bands on daily revenue (C212) ----------------------------------

# 7-row trailing mean +/- 2 sigma with the variance numerator kept in
# EXACT integers: daily revenue is truncated to whole dollars, the
# window carries (n, sum x, sum x^2) as BIGINTs, and sigma appears only
# as ROUND(1000 * sqrt(n*sumsq - sum^2) / n) — sqrt, divide, multiply
# are all IEEE-correctly-rounded, so the thousandth-dollar sigma is
# bit-identical cross-engine (no ln anywhere).  Breach flags compare
# cross-multiplied integers against that already-rounded sigma.
_BOLLINGER_ORACLE = """
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS rev_d
  FROM orders GROUP BY 1
),
win AS (
  SELECT d, rev_d,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
         CAST(SUM(rev_d) OVER w AS BIGINT) AS sum_d,
         SUM(CAST(rev_d AS HUGEINT) * rev_d) OVER w AS sumsq_d
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT d, rev_d, n_win, sum_d,
       CAST(ROUND(1000 * sqrt(CAST(n_win * sumsq_d -
                                   CAST(sum_d AS HUGEINT) * sum_d AS DOUBLE))
                  / n_win) AS BIGINT) AS sd_k,
       CAST(1000 * n_win * rev_d >
            1000 * sum_d + 2 * n_win *
            CAST(ROUND(1000 * sqrt(CAST(n_win * sumsq_d -
                                        CAST(sum_d AS HUGEINT) * sum_d
                                        AS DOUBLE)) / n_win) AS BIGINT)
            AS BIGINT) AS breach_hi,
       CAST(1000 * n_win * rev_d <
            1000 * sum_d - 2 * n_win *
            CAST(ROUND(1000 * sqrt(CAST(n_win * sumsq_d -
                                        CAST(sum_d AS HUGEINT) * sum_d
                                        AS DOUBLE)) / n_win) AS BIGINT)
            AS BIGINT) AS breach_lo
FROM win ORDER BY d
"""


@register("b_ts_bollinger", oracle=_BOLLINGER_ORACLE, tags=("timeseries", "bollinger"))
def b_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C212: Bollinger bands — trailing 7-day mean and population sigma
    of daily order revenue, with +/-2-sigma breach flags.  The window
    carries EXACT integer (n, sum, sum-of-squares) in whole dollars;
    sigma is the single rounded expression
    ROUND(1000*sqrt(n*sumsq - sum^2)/n), composed only of IEEE
    correctly-rounded ops, so both engines produce the identical
    thousandth-dollar value; the breach predicates are then pure
    integer comparisons against it.  Carriers: the sum-of-squares and
    the variance numerator ride DECIMAL(38,0)/HUGEINT (the
    C146/C216/C244 sibling rule — rev_d² alone crosses int64 at
    ~1e9-dollar days ≈ sf 1, far below the 100 TB target); the
    linear terms (sum_d and the ×1000 breach cross-multiplies) keep
    BIGINT, whose headroom runs to ~1e14-dollar days ≈ sf 1e5.

    Scale shape: a date-keyed rollup (map-side partials, |days| rows
    out of any corpus), then one |days|-row ordered window; the raw
    order stream never reaches the window."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.floor("o_totalprice").cast("bigint")).cast("bigint").alias("rev_d")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    win = daily.select(
        "d",
        "rev_d",
        F.count("*").over(w).cast("bigint").alias("n_win"),
        F.sum("rev_d").over(w).cast("bigint").alias("sum_d"),
        F.sum(F.expr("CAST(rev_d AS DECIMAL(38,0)) * rev_d")).over(w).alias("sumsq_d"),
    )
    sd_k = (
        F.round(
            1000
            * F.sqrt(
                F.expr(
                    "CAST(n_win * sumsq_d - "
                    "CAST(sum_d AS DECIMAL(38,0)) * sum_d AS DOUBLE)"
                )
            )
            / F.col("n_win")
        )
        .cast("bigint")
    )
    return win.select(
        "d",
        "rev_d",
        "n_win",
        "sum_d",
        sd_k.alias("sd_k"),
        (1000 * F.col("n_win") * F.col("rev_d")
         > 1000 * F.col("sum_d") + 2 * F.col("n_win") * sd_k)
        .cast("bigint")
        .alias("breach_hi"),
        (1000 * F.col("n_win") * F.col("rev_d")
         < 1000 * F.col("sum_d") - 2 * F.col("n_win") * sd_k)
        .cast("bigint")
        .alias("breach_lo"),
    )


# --- Local-maxima peak detection (C215) ----------------------------------------

# scipy.signal.find_peaks' core contract in pure windows: a day is a
# peak iff its revenue STRICTLY exceeds every day in a ±3-row
# neighborhood, and the neighborhood must be complete (3 rows each
# side) so series edges can't mint degenerate peaks.  Strict >
# against both sides makes the flag deterministic without a
# tie-break.  Everything is exact integer dollars.
_PEAKS_ORACLE = """
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS rev_d
  FROM orders GROUP BY 1
),
nbr AS (
  SELECT d, rev_d,
         CAST(MAX(rev_d) OVER wp AS BIGINT) AS max_prev,
         CAST(MAX(rev_d) OVER wf AS BIGINT) AS max_next,
         COUNT(*) OVER wp AS n_prev,
         COUNT(*) OVER wf AS n_next
  FROM daily
  WINDOW wp AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
         wf AS (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
)
SELECT d, rev_d,
       CAST(rev_d - GREATEST(max_prev, max_next) AS BIGINT) AS excess_d
FROM nbr
WHERE n_prev = 3 AND n_next = 3
  AND rev_d > max_prev AND rev_d > max_next
ORDER BY d
"""


@register("b_ts_peaks", oracle=_PEAKS_ORACLE, tags=("timeseries", "peaks"))
def b_ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C215: local-maxima peak detection on daily revenue — a day is a
    peak iff it STRICTLY beats every day within 3 rows on both sides
    and both neighborhoods are complete (edges excluded by the window
    row-counts, not by date arithmetic).  Ships each peak's excess
    over its tallest neighbor — find_peaks' 'prominence-lite', exact
    in integer dollars.

    Scale shape: the date rollup collapses the corpus to |days| rows
    map-side; two small ordered windows over that; no self-join."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("d")
    ).agg(F.sum(F.floor("o_totalprice").cast("bigint")).cast("bigint").alias("rev_d"))
    wp = Window.orderBy("d").rowsBetween(-3, -1)
    wf = Window.orderBy("d").rowsBetween(1, 3)
    nbr = daily.select(
        "d",
        "rev_d",
        F.max("rev_d").over(wp).cast("bigint").alias("max_prev"),
        F.max("rev_d").over(wf).cast("bigint").alias("max_next"),
        F.count("*").over(wp).alias("n_prev"),
        F.count("*").over(wf).alias("n_next"),
    )
    return (
        nbr.where(
            (F.col("n_prev") == 3)
            & (F.col("n_next") == 3)
            & (F.col("rev_d") > F.col("max_prev"))
            & (F.col("rev_d") > F.col("max_next"))
        )
        .select(
            "d",
            "rev_d",
            (F.col("rev_d") - F.greatest("max_prev", "max_next"))
            .cast("bigint")
            .alias("excess_d"),
        )
    )


# --- Lead-lag cross-correlation (C216) ------------------------------------------

# Which series LEADS: Pearson corr between daily 'view' cents and
# daily 'purchase' cents at lags −3..+3 (positive k = purchases k days
# AFTER views) — the autocorrelation machinery (C146) pointed at two
# different series, pairing by an explicit epoch-day equi-join
# (dy.d = dx.d + k) instead of LAG so the lag can be a column in both
# engines.  Same exactness recipe: integer-cents daily sums,
# DECIMAL(38)/HUGEINT moments, one double conversion at the end.
_CROSSCORR_ORACLE = """
WITH dx AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'view' GROUP BY 1
),
dy AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pairs AS (
  SELECT ks.k, dx.x, dy.y
  FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) ks(k)
  JOIN dx ON TRUE
  JOIN dy ON dy.d = dx.d + ks.k
),
s AS (
  SELECT k, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy
  FROM pairs GROUP BY k
)
SELECT k, n,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS crosscorr
FROM s ORDER BY k
"""


@register("b_ts_crosscorr", oracle=_CROSSCORR_ORACLE, tags=("timeseries", "crosscorr"))
def b_ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C216: lead-lag cross-correlation — Pearson between the daily
    'view' and 'purchase' cents series at lags −3..+3; the argmax
    lag says which series leads and by how many days (the
    campaign-attribution question C146's autocorrelation can't
    answer).  Lag pairing is an epoch-day equi-join with the lag as a
    join-key summand, because neither engine's LAG takes a column
    offset.  Moments in DECIMAL(38)/HUGEINT; one double conversion
    then ROUND 6 — bit-identical cross-engine.

    Scale shape: two filtered date rollups collapse the corpus
    map-side to |days| rows each; the 7-lag fan-out and join run on
    the tiny daily series only."""
    ev = load_table(spark, sf_dir, "events")

    def daily(et: str, out: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == et)
            .groupBy(
                F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d")
            )
            .agg(F.sum(cents("value")).alias(out))
        )

    dx, dy = daily("view", "x"), daily("purchase", "y")
    ks = spark.createDataFrame([(k,) for k in range(-3, 4)], "k bigint")
    pairs = (
        dx.crossJoin(F.broadcast(ks))
        .join(dy.withColumnRenamed("d", "d_y"), F.expr("d_y = d + k"))
        .select("k", "x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = pairs.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
    )
    return s.select(
        "k",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("crosscorr"),
    )


# --- Rolling exact median (C219) -------------------------------------------------

# The robust trailing smoother: a 7-row exact median shrugs off a
# one-day spike that drags the Bollinger mean (C212) — the reason
# dashboards pair them.  Exact interpolated percentile over a ROWS
# window; both engines interpolate the even-count midpoint as
# (a+b)/2 of exact integer cents (verified bit-identical), so the
# double is deterministic.  The spike flag compares against
# 1.5*median — 1.5 is exactly representable, the multiply correctly
# rounded, so the flag is deterministic given the median.
_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
)
SELECT d, rev_c,
       quantile_cont(rev_c, 0.5) OVER (
         ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_7,
       CAST(rev_c > 1.5 * quantile_cont(rev_c, 0.5) OVER (
         ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS spike
FROM daily ORDER BY d
"""


@register("b_ts_rolling_median", oracle=_ROLLMED_ORACLE, tags=("timeseries", "median"))
def b_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C219: trailing 7-day EXACT median of daily revenue with a
    1.5x-median spike flag — the robust smoother that ignores the
    single-day outliers which drag a trailing mean (its Bollinger
    twin C212 is the non-robust contrast).  Spark's exact
    percentile() and DuckDB's quantile_cont interpolate the
    even-count midpoint identically over exact integer cents
    (probed bit-identical before this key shipped).

    Scale shape: date rollup collapses the corpus map-side to |days|
    rows; the window's exact median costs O(frame log frame) per row
    on that tiny series only."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("d")
    ).agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    w = Window.orderBy("d").rowsBetween(-6, 0)
    med = F.expr("percentile(rev_c, 0.5)").over(w)
    return daily.select(
        "d",
        "rev_c",
        med.alias("med_7"),
        (F.col("rev_c") > 1.5 * med).cast("bigint").alias("spike"),
    )


# --- STL-residual anomaly detection (C222) -----------------------------------------

# The composition every metrics platform actually runs (Twitter's
# S-H-ESD shape): deseasonalize FIRST (C171's decomposition), then
# threshold the residual with robust MAD z-scores — a weekly-seasonal
# series makes raw-value thresholds (b_ts_outlier_mad's global form)
# fire every weekend.  med/MAD are exact interpolated medians of
# integer-scaled residuals (deterministic, the C219 probe); the 3.5σ
# robust threshold constant 3.5·1.4826 = 5.1891 is one double
# literal, parsed and multiplied identically in both engines.
_STL_ANOM_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS epoch_d,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS x_c
  FROM orders GROUP BY 1
),
tr AS (
  SELECT epoch_d, x_c,
         CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(x_c) OVER w AS BIGINT) END AS sum7
  FROM daily
  WINDOW w AS (ORDER BY epoch_d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT epoch_d, x_c, CAST((epoch_d + 4) % 7 AS BIGINT) AS dow,
         CAST(7 * x_c - sum7 AS BIGINT) AS d7
  FROM tr WHERE sum7 IS NOT NULL
),
seas AS (
  SELECT *,
         CAST(ROUND(1000000 * AVG(d7) OVER (PARTITION BY dow)) AS BIGINT) AS seasonal_m
  FROM det
),
resid AS (
  SELECT epoch_d, x_c, CAST(1000000 * d7 - seasonal_m AS BIGINT) AS resid_m
  FROM seas
),
med1 AS (
  SELECT *, quantile_cont(resid_m, 0.5) OVER () AS med FROM resid
),
med2 AS (
  SELECT *, quantile_cont(abs(resid_m - med), 0.5) OVER () AS mad FROM med1
)
SELECT epoch_d, x_c, resid_m,
       CAST(ROUND(med) AS BIGINT) AS med_m, CAST(ROUND(mad) AS BIGINT) AS mad_m
FROM med2
WHERE abs(resid_m - med) > 5.1891 * mad
ORDER BY epoch_d
"""


@register("b_ts_stl_anomaly", oracle=_STL_ANOM_ORACLE, tags=("timeseries", "anomaly", "stl"))
def b_ts_stl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C222: seasonal-residual anomaly detection — C171's classical
    decomposition feeding a robust MAD threshold on the RESIDUAL
    (|r − med| > 3.5·1.4826·MAD), the composition that keeps a weekly
    cycle from tripping the detector every Sunday (contrast
    b_ts_outlier_mad, which thresholds raw values).  Residuals are
    exact integer millionth-cents from C171's ladder; the two medians
    interpolate identically cross-engine (the C219 probe).

    Scale shape: the day rollup is the only data-sized pass; windows
    run over the |days| series.  At 100 TB with many series the two
    global medians become per-series-key partitions of the same
    windows.  The DECIMAL(38,0)-carrier contract (day cents past
    ~9e12) ships as b_ts_stl_anomaly_wide (C259), past-2^63-tested —
    this key stays the long-adds hot path."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("epoch_d")
    ).agg(F.sum(cents("o_totalprice")).alias("x_c"))
    w = Window.orderBy("epoch_d").rowsBetween(-3, 3)
    tr = daily.select(
        "epoch_d",
        "x_c",
        F.when(F.count("*").over(w) == 7, F.sum("x_c").over(w).cast("bigint")).alias(
            "sum7"
        ),
    ).where(F.col("sum7").isNotNull())
    det = tr.select(
        "epoch_d",
        "x_c",
        ((F.col("epoch_d") + 4) % 7).cast("bigint").alias("dow"),
        (7 * F.col("x_c") - F.col("sum7")).cast("bigint").alias("d7"),
    )
    seas = det.withColumn(
        "seasonal_m",
        F.round(1_000_000 * F.avg("d7").over(Window.partitionBy("dow"))).cast("bigint"),
    )
    resid = seas.select(
        "epoch_d",
        "x_c",
        (1_000_000 * F.col("d7") - F.col("seasonal_m")).cast("bigint").alias("resid_m"),
    )
    wall = Window.partitionBy()
    med1 = resid.withColumn("med", F.expr("percentile(resid_m, 0.5)").over(wall))
    med2 = med1.withColumn(
        "mad", F.expr("percentile(abs(resid_m - med), 0.5)").over(wall)
    )
    return (
        med2.where(F.abs(F.col("resid_m") - F.col("med")) > 5.1891 * F.col("mad"))
        .select(
            "epoch_d",
            "x_c",
            "resid_m",
            F.round("med").cast("bigint").alias("med_m"),
            F.round("mad").cast("bigint").alias("mad_m"),
        )
    )


# --- Rolling correlation (C251) -----------------------------------------------------------

# The co-movement dashboard: trailing 14-day Pearson between the
# daily 'view' and 'purchase' cents series.  The window carries the
# five EXACT integer moment sums (n, Σx, Σy, Σx², Σy², Σxy — cents²
# fits BIGINT at these day totals); each day's coefficient is one
# identical double expression over them, ROUND 6 — the C146/C216
# recipe under a moving frame.
_ROLLCORR_ORACLE = """
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
),
m AS (
  SELECT d, x, y,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * x) OVER w AS sxx,
         SUM(CAST(y AS HUGEINT) * y) OVER w AS syy,
         SUM(CAST(x AS HUGEINT) * y) OVER w AS sxy
  FROM d
  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT d, n,
       ROUND((n * sxy - CAST(sx AS HUGEINT) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
           AS rollcorr
FROM m WHERE n = 14 ORDER BY d
"""


@register("b_ts_rolling_corr", oracle=_ROLLCORR_ORACLE, tags=("timeseries", "corr", "rolling"))
def b_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C251: trailing 14-day Pearson correlation between the daily
    view and purchase series — the co-movement monitor whose global
    cousins are C146 (autocorr) and C216 (lead-lag).  The moving
    frame carries the exact moment sums — linear ones in BIGINT, the
    quadratic ones (Σx², Σy², Σxy and the n·Σxy − Σx·Σy numerator)
    in DECIMAL(38,0)/HUGEINT, since day-total cents square past
    int64 well before the 100 TB target (the C146/C216/C244 sibling
    rule); the coefficient is one identically-parenthesized double
    expression, rounded once; incomplete leading frames are excluded
    by the window row count.

    Scale shape: the day rollup collapses the corpus map-side; six
    window aggregates share one |days|-row ordered frame."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    cts = cents("value")
    d = (
        e.where(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", cts).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", cts).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    m = d.select(
        "d",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).over(w).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).over(w).alias("syy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).over(w).alias("sxy"),
    ).where(F.col("n") == 14)
    return m.select(
        "d",
        "n",
        F.round(
            F.expr(
                "CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            )
            / F.sqrt(
                (F.col("n").cast("double") * F.col("sxx")
                 - F.col("sx").cast("double") * F.col("sx"))
                * (F.col("n").cast("double") * F.col("syy")
                   - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("rollcorr"),
    )


# --- STL-residual anomaly detection, wide-carrier twin (C259) -----------------------

# C222's recorded headroom debt graduated into a key (r9 VERDICT
# next-round #5): resid_m = 1e6*d7 - seasonal_m wraps BIGINT once a
# day's cent total swings past ~9e12 (1e6 x 7 x day-cents), a bound a
# 100 TB revenue stream crosses.  This twin carries x_c, sum7, d7,
# seasonal_m, resid_m as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the
# two robust medians interpolate over an EXPLICIT double cast of the
# residual in both engines (the original's implicit BIGINT->double,
# made visible), and med/mad round to DOUBLE outputs (they can exceed
# int64).  The per-dow seasonal mean is an exact TRUNCATING integer
# division (DuckDB HUGEINT `//`; Spark subtract-remainder-then-divide)
# instead of the original's double ROUND: a double round-trip at 1e21
# diverges between engines (Spark's double->decimal cast goes through
# the shortest decimal repr, DuckDB converts the exact binary value).  x_c and resid_m cross the result boundary as exact decimal
# strings — pandas has no int128, so a numeric fetch would round
# through float64.  Per-row cents stay BIGINT (the data contract keeps
# single prices < 2^53); only the SUMS widen.  The past-2^63 case is
# exercised on the shipped key by a synthetic corpus test
# (tests/test_round10.py TestWideMoments).
_STL_ANOM_WIDE_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS epoch_d,
         SUM(CAST(CAST(ROUND(100 * o_totalprice) AS BIGINT) AS HUGEINT)) AS x_c
  FROM orders GROUP BY 1
),
tr AS (
  SELECT epoch_d, x_c,
         CASE WHEN COUNT(*) OVER w = 7
              THEN SUM(x_c) OVER w END AS sum7
  FROM daily
  WINDOW w AS (ORDER BY epoch_d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT epoch_d, x_c, CAST((epoch_d + 4) % 7 AS BIGINT) AS dow,
         7 * x_c - sum7 AS d7
  FROM tr WHERE sum7 IS NOT NULL
),
seas AS (
  SELECT *,
         (1000000 * SUM(d7) OVER dw) // COUNT(*) OVER dw AS seasonal_m
  FROM det
  WINDOW dw AS (PARTITION BY dow)
),
resid AS (
  SELECT epoch_d, x_c, 1000000 * d7 - seasonal_m AS resid_m
  FROM seas
),
med1 AS (
  SELECT *, quantile_cont(CAST(resid_m AS DOUBLE), 0.5) OVER () AS med FROM resid
),
med2 AS (
  SELECT *, quantile_cont(abs(CAST(resid_m AS DOUBLE) - med), 0.5) OVER () AS mad
  FROM med1
)
SELECT epoch_d,
       CAST(x_c AS VARCHAR) AS x_c,
       CAST(resid_m AS VARCHAR) AS resid_m,
       ROUND(med) AS med_m, ROUND(mad) AS mad_m
FROM med2
WHERE abs(CAST(resid_m AS DOUBLE) - med) > 5.1891 * mad
ORDER BY epoch_d
"""


@register(
    "b_ts_stl_anomaly_wide",
    oracle=_STL_ANOM_WIDE_ORACLE,
    tags=("timeseries", "anomaly", "stl", "wide"),
)
def b_ts_stl_anomaly_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C259: seasonal-residual anomaly detection with DECIMAL(38,0)
    carriers — C222's wide-schema twin; see _STL_ANOM_WIDE_ORACLE
    note.  Same plan shape as C222 (one data-sized day rollup, then
    |days|-sized windows); only the carrier types differ, so C222
    stays the long-adds hot path below its documented bound."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("epoch_d")
    ).agg(
        F.sum(
            cents("o_totalprice").cast("decimal(38,0)")
        ).alias("x_c")
    )
    w = Window.orderBy("epoch_d").rowsBetween(-3, 3)
    tr = daily.select(
        "epoch_d",
        "x_c",
        F.when(F.count("*").over(w) == 7, F.sum("x_c").over(w)).alias("sum7"),
    ).where(F.col("sum7").isNotNull())
    det = tr.select(
        "epoch_d",
        "x_c",
        ((F.col("epoch_d") + 4) % 7).cast("bigint").alias("dow"),
        (F.lit(7).cast("decimal(38,0)") * F.col("x_c") - F.col("sum7"))
        .cast("decimal(38,0)")
        .alias("d7"),
    )
    dw = Window.partitionBy("dow")
    num = (F.lit(1_000_000).cast("decimal(38,0)") * F.sum("d7").over(dw)).cast(
        "decimal(38,0)"
    )
    cnt = F.count("*").over(dw)
    # exact truncating division (DuckDB HUGEINT `//` semantics):
    # subtract the dividend-signed remainder, then the division is
    # exact — no double round-trip, so no shortest-repr divergence
    seas = det.withColumn(
        "seasonal_m", ((num - num % cnt) / cnt).cast("decimal(38,0)")
    )
    resid = seas.select(
        "epoch_d",
        "x_c",
        (
            F.lit(1_000_000).cast("decimal(38,0)") * F.col("d7")
            - F.col("seasonal_m")
        )
        .cast("decimal(38,0)")
        .alias("resid_m"),
    )
    wall = Window.partitionBy()
    med1 = resid.withColumn(
        "med", F.expr("percentile(CAST(resid_m AS DOUBLE), 0.5)").over(wall)
    )
    med2 = med1.withColumn(
        "mad",
        F.expr("percentile(abs(CAST(resid_m AS DOUBLE) - med), 0.5)").over(wall),
    )
    return (
        med2.where(
            F.abs(F.col("resid_m").cast("double") - F.col("med"))
            > 5.1891 * F.col("mad")
        )
        .select(
            "epoch_d",
            F.col("x_c").cast("string").alias("x_c"),
            F.col("resid_m").cast("string").alias("resid_m"),
            F.round("med").alias("med_m"),
            F.round("mad").alias("mad_m"),
        )
    )


# --- Holt linear (double-exponential) smoothing (C268) -----------------

_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, day, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) AS x
    FROM events GROUP BY 1, 2
  )
),
h AS (
  SELECT event_type, rn, x AS l, CAST(0.0 AS DOUBLE) AS b FROM daily WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.rn,
         0.5 * d.x + 0.5 * (h.l + h.b) AS l,
         0.5 * ((0.5 * d.x + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b AS b
  FROM h JOIN daily d ON d.event_type = h.event_type AND d.rn = h.rn + 1
),
last AS (
  SELECT event_type, MAX(rn) AS n_days FROM daily GROUP BY 1
)
SELECT h.event_type, CAST(last.n_days AS BIGINT) AS n_days,
       h.l AS level_cents, h.b AS trend_cents,
       h.l + 7 * h.b AS forecast7_cents
FROM h JOIN last ON h.event_type = last.event_type AND h.rn = last.n_days
"""


@register("b_ts_holt", oracle=_HOLT_ORACLE, tags=("timeseries", "forecast", "fold"))
def b_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C268: Holt linear-trend (double-exponential) smoothing over the
    per-type daily revenue series, α = β = 1/2, plus a 7-day-ahead
    forecast — the trend-aware upgrade of b_ts_ewma's level-only
    smoothing and b_ts_seasonal_naive's lag forecast.

    Unlike the truncated-EWMA trick (8 lags), the Holt recurrence
    needs the WHOLE series — which is exactly what a higher-order
    array fold gives: per event_type, sort the bounded daily series
    (|days| rows/key, from the corpus-sized daily pre-aggregate) and
    run the recurrence as one F.aggregate left fold with a
    (level, trend) struct accumulator. Map-side after the daily
    rollup's shuffle; no window, no iteration, no Python. α = β = 1/2
    keeps every step an exact IEEE halving-and-add of integer-cent
    doubles — both engines execute the identical op sequence (fold
    order IS the series order), so level/trend/forecast are
    bit-identical and fully hash-oracled: DuckDB runs the same
    recurrence as a linear recursive CTE stepping rn → rn+1.

    Scale shape: the only corpus-sized stage is the (day, type) daily
    rollup; the fold input is |days| structs per key. For
    multi-year × million-key panels the fold stays map-side per key;
    a per-day-output variant would emit the accumulator trajectory
    (array) instead of its last element — same plan."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(cents("value")).cast("double").alias("x"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    )

    def step(acc, ev):
        l_new = 0.5 * ev.x + 0.5 * (acc.l + acc.b)
        return F.struct(
            l_new.alias("l"), (0.5 * (l_new - acc.l) + 0.5 * acc.b).alias("b")
        )

    folded = series.select(
        "event_type",
        F.size("s").cast("bigint").alias("n_days"),
        F.aggregate(
            F.slice("s", F.lit(2), F.size("s") - 1),
            F.struct(
                F.element_at("s", 1)["x"].alias("l"), F.lit(0.0).alias("b")
            ),
            step,
        ).alias("hb"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.col("hb.l").alias("level_cents"),
        F.col("hb.b").alias("trend_cents"),
        (F.col("hb.l") + 7 * F.col("hb.b")).alias("forecast7_cents"),
    )


# --- Holt-Winters additive seasonal smoothing (C277) --------------------

# Weekly period; α = β = γ = 1/2 keeps every update a halving-and-add
# of integer-cent doubles (C268's trick extended to the seasonal
# recurrence), and the level init is (exact integer sum of the first
# 7 days) / 7.0 — one deterministic IEEE division both engines compute
# from the same exact operand.  The seasonal state rides the fold as a
# 7-slot rotating queue; DuckDB mirrors it as a LIST column in the
# recursive CTE (head = s_{t-7}, append the fresh seasonal at the
# tail).  Position-based seasonality: the recurrence consumes the
# series in row order (gap handling is b_ts_gapfill's separate job),
# identically in both engines.
_HW_L = "0.5 * (d.x - h.s[1]) + 0.5 * (h.l + h.b)"

_HOLT_WINTERS_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, day, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) AS x
    FROM events GROUP BY 1, 2
  )
),
init_l AS (
  SELECT event_type, SUM(x) / 7.0 AS l0 FROM daily WHERE rn <= 7 GROUP BY 1
),
init_s AS (
  SELECT d.event_type, list(d.x - i.l0 ORDER BY d.rn) AS s0
  FROM daily d JOIN init_l i USING (event_type)
  WHERE d.rn <= 7 GROUP BY 1
),
h AS (
  SELECT i.event_type, 7 AS rn, i.l0 AS l, CAST(0.0 AS DOUBLE) AS b, s.s0 AS s
  FROM init_l i JOIN init_s s USING (event_type)
  UNION ALL
  SELECT h.event_type, d.rn,
         {_HW_L} AS l,
         0.5 * (({_HW_L}) - h.l) + 0.5 * h.b AS b,
         list_append(h.s[2:7],
                     0.5 * (d.x - ({_HW_L})) + 0.5 * h.s[1]) AS s
  FROM h JOIN daily d ON d.event_type = h.event_type AND d.rn = h.rn + 1
),
last AS (
  SELECT event_type, MAX(rn) AS n_days FROM daily GROUP BY 1
  HAVING MAX(rn) > 7
)
SELECT h.event_type, CAST(last.n_days AS BIGINT) AS n_days,
       h.l AS level_cents, h.b AS trend_cents,
       h.s[7] AS seasonal_cents,
       h.l + 7 * h.b + h.s[7] AS forecast7_cents
FROM h JOIN last ON h.event_type = last.event_type AND h.rn = last.n_days
"""


@register("b_ts_holt_winters", oracle=_HOLT_WINTERS_ORACLE,
          tags=("timeseries", "forecast", "fold", "seasonal"))
def b_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C277: additive Holt-Winters (triple-exponential) smoothing over
    the per-type daily revenue series, weekly period, α = β = γ = 1/2,
    plus the 7-day-ahead forecast ŷ = l + 7b + s_tail — the seasonal
    upgrade of C268's Holt fold, same execution shape: ONE F.aggregate
    left fold per key, map-side after the (day, type) daily rollup, no
    window, no iteration, no Python.

    The accumulator is (level, trend, 7-slot seasonal queue): each
    step reads the head (s_{t−7}), emits the three halving-exact
    updates, and rotates the fresh seasonal onto the tail via
    slice+concat — DuckDB runs the identical recurrence as a linear
    recursive CTE whose state row carries the queue as a LIST.  Level
    init = mean of the first 7 days (exact integer sum, one shared
    IEEE division); seasonal init = those days' deviations from it;
    types with ≤7 days are filtered in BOTH engines (no seasonal
    cycle to estimate).

    Scale shape: identical to C268 — the only corpus-sized stage is
    the daily rollup shuffle; the fold input is |days| structs per
    key, so a million-key panel folds embarrassingly parallel with
    zero extra exchanges."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(cents("value")).cast("double").alias("x"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    ).where(F.size("s") > 7)

    first7_sum = F.aggregate(
        F.slice("s", 1, 7), F.lit(0.0), lambda a, ev: a + ev["x"]
    )
    l0 = (first7_sum / 7.0).alias("l0")

    def step(acc, ev):
        s_head = F.element_at(acc["s"], 1)
        l_new = 0.5 * (ev["x"] - s_head) + 0.5 * (acc["l"] + acc["b"])
        b_new = 0.5 * (l_new - acc["l"]) + 0.5 * acc["b"]
        s_new = 0.5 * (ev["x"] - l_new) + 0.5 * s_head
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(F.slice(acc["s"], 2, 6), F.array(s_new)).alias("s"),
        )

    with_init = series.select(
        "event_type",
        F.size("s").cast("bigint").alias("n_days"),
        "s",
        l0,
    ).select(
        "event_type",
        "n_days",
        "s",
        F.struct(
            F.col("l0").alias("l"),
            F.lit(0.0).alias("b"),
            F.transform(
                F.slice("s", 1, 7), lambda ev: ev["x"] - F.col("l0")
            ).alias("s"),
        ).alias("acc0"),
    )
    folded = with_init.select(
        "event_type",
        "n_days",
        F.aggregate(
            F.slice("s", F.lit(8), F.size("s") - 7), F.col("acc0"), step
        ).alias("hw"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.col("hw.l").alias("level_cents"),
        F.col("hw.b").alias("trend_cents"),
        F.element_at("hw.s", 7).alias("seasonal_cents"),
        (F.col("hw.l") + 7 * F.col("hw.b") + F.element_at("hw.s", 7)).alias(
            "forecast7_cents"
        ),
    )
