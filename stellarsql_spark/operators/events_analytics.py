"""Product-analytics operators over the event stream (SURVEY.md §2
B-9 adjacency): funnel conversion and cohort retention — the classic
event-log rollups a warehouse engine is asked for daily.

Scale shape: both operators are one groupBy over events (shuffle keyed
by user_id) followed by aggregation of a per-user row that is tiny and
bounded — 100 TB of raw events collapses to |users| rows after the
first partial aggregate. No window over the full log, no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents, csum
from stellarsql_spark.registry import register

_FUNNEL_ORACLE = """
WITH stage AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_signup) AS n_signup,
       COUNT(CASE WHEN t_click > t_signup THEN 1 END) AS n_click_after_signup,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_signup
                  THEN 1 END) AS n_full_funnel
FROM stage
"""


@register("b_ev_funnel", oracle=_FUNNEL_ORACLE, tags=("events", "funnel", "agg"))
def b_ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase: first-touch timestamp
    per stage per user (conditional MIN), then one global count of
    users whose stages happened in order."""
    ev = load_table(spark, sf_dir, "events")

    def first_touch(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    stage = ev.groupBy("user_id").agg(
        first_touch("signup").alias("t_signup"),
        first_touch("click").alias("t_click"),
        first_touch("purchase").alias("t_purchase"),
    )
    return stage.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias("n_click_after_signup"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click")) & (F.col("t_click") > F.col("t_signup")),
                1,
            )
        ).alias("n_full_funnel"),
    )


_RETENTION_ORACLE = """
WITH cohorts AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week FROM events
)
SELECT cohort_week,
       CAST(FLOOR(DATE_DIFF('day', cohort_week, active_week) / 7.0) AS INT) AS week_offset,
       COUNT(*) AS n_active
FROM cohorts JOIN activity USING (user_id)
GROUP BY cohort_week, week_offset
"""


@register("b_ev_retention", oracle=_RETENTION_ORACLE, tags=("events", "retention", "agg"))
def b_ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by first-seen
    week, counted once per (cohort, weeks-since-cohort) they were
    active in. The cohort table is |users|-sized and joins back on the
    already-shuffled user_id key."""
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    week_offset = F.floor(
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7.0
    ).cast("int")
    return (
        cohorts.join(activity, "user_id")
        .groupBy("cohort_week", week_offset.alias("week_offset"))
        .agg(F.count("*").alias("n_active"))
    )


# Anomaly surfacing from exact sufficient statistics: events.value is
# an exact 2-decimal double (functions/exact.py), so Σv and Σv² are
# exact as decimals and both engines derive bit-identical mean/std;
# the per-type top-3 extremes are tie-broken by event_id.
_ANOMALY_ORACLE = """
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
),
scored AS (
  SELECT e.event_type, e.event_id,
         ABS(e.value - s.s1 / s.n) AS dev,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_type
           ORDER BY ABS(e.value - s.s1 / s.n) DESC, e.event_id
         ) AS rn
  FROM events e JOIN stats s ON e.event_type = s.event_type
)
SELECT s.event_type, s.n,
       ROUND(s.s1 / s.n, 6) AS mean_value,
       ROUND(SQRT(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)), 6) AS std_value,
       sc.event_id AS extreme_event, sc.rn AS extreme_rank,
       ROUND(sc.dev, 6) AS deviation
FROM stats s JOIN scored sc ON s.event_type = sc.event_type
WHERE sc.rn <= 3
"""


@register("b_ev_anomaly", oracle=_ANOMALY_ORACLE, tags=("events", "anomaly", "stats"))
def b_ev_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type anomaly surfacing: exact decimal power sums give
    engine-identical mean/std in one partial-aggregating pass, then
    the top-3 |value − mean| extremes per type come from a window over
    the stats-joined events (broadcast: |stats| = |event types|).
    Reporting ranked extremes instead of a z>k filter keeps the result
    deterministic — no float-boundary membership flips."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    scored = e.join(F.broadcast(stats), "event_type").withColumn(
        "dev", F.abs(F.col("value") - mean)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("dev").desc(), "event_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "event_type",
            "n",
            F.round(mean, 6).alias("mean_value"),
            F.round(F.sqrt(F.col("s2") / F.col("n") - mean * mean), 6).alias("std_value"),
            F.col("event_id").alias("extreme_event"),
            F.col("rn").alias("extreme_rank"),
            F.round("dev", 6).alias("deviation"),
        )
    )


_SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6h inactivity closes a session

_SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       MIN(ts) AS session_start,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM numbered
GROUP BY user_id, session_seq
"""


@register("b_ev_sessionize", oracle=_SESSIONIZE_ORACLE, tags=("events", "session", "window"))
def b_ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch): a lag window flags events
    arriving > 6h after the user's previous one, a running sum of the
    flags numbers the sessions, and a groupBy folds each session to
    one summary row. Scale shape: both windows and the final groupBy
    share the user_id partitioning — ONE shuffle of the log, then
    per-user work bounded by that user's history (the streaming
    session_window variant is b_stream_session)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0).alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


_PATHS_ORACLE = """
WITH steps AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions,
         COUNT(DISTINCT user_id) AS n_users
  FROM steps WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_transitions, n_users
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_transitions DESC, prev_type, next_type) AS rn
  FROM pairs
)
WHERE rn <= 20
"""


@register("b_ev_paths", oracle=_PATHS_ORACLE, tags=("events", "paths", "window"))
def b_ev_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type transitions (behavioral bigrams): per-user
    event-time ordering via a lag window, then a global transition
    count — the Markov-chain view of the event log. Scale shape: the
    window shuffles once on user_id (each user's history is modest),
    and the transition matrix is |types|² rows — tiny regardless of
    corpus size."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    pairs = steps.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )
    top = Window.orderBy(F.col("n_transitions").desc(), "prev_type", "next_type")
    return (
        pairs.withColumn("rn", F.row_number().over(top))
        .where(F.col("rn") <= 20)
        .select("prev_type", "next_type", "n_transitions", "n_users")
    )


_ATTRIBUTION_ORACLE = """
WITH touched AS (
  SELECT user_id, ts, event_id, event_type, value,
         COALESCE(
           LAST_VALUE(CASE WHEN event_type != 'purchase' THEN event_type END
                      IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           'direct') AS channel
  FROM events
)
SELECT channel,
       COUNT(*) AS n_purchases,
       COUNT(DISTINCT user_id) AS n_buyers,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
FROM touched
WHERE event_type = 'purchase'
GROUP BY channel
"""


@register("b_ev_attribution", oracle=_ATTRIBUTION_ORACLE, tags=("events", "attribution", "window"))
def b_ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent preceding non-purchase event type ('direct' when none)
    via an ignore-nulls window ending 1 row before current — the
    classic marketing rollup. One user_id shuffle for the window; the
    channel aggregate re-shuffles only |purchases| rows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("channel", F.coalesce(touch, F.lit("direct")))
        .where(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.countDistinct("user_id").alias("n_buyers"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("attributed_value"),
        )
    )


_RFM_ORACLE = """
WITH base AS (
  SELECT user_id,
         date_diff('day', MAX(ts),
                   (SELECT MAX(ts) FROM events)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS monetary
  FROM events
  GROUP BY user_id
),
scored AS (
  SELECT *,
         NTILE(4) OVER (ORDER BY recency_days, user_id) AS r_score,
         NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
  FROM base
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_users,
       CAST(SUM(CAST(ROUND(monetary * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS segment_value
FROM scored
GROUP BY r_score, f_score, m_score
"""


@register("b_ev_rfm", oracle=_RFM_ORACLE, tags=("events", "analytics", "rfm"))
def b_ev_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C113: RFM segmentation — the classic customer-value rollup:
    per user recency (days since last event, against the corpus max),
    frequency (event count), monetary (integer-cents value sum), each
    quartiled with NTILE (ties broken on user_id, so every score is
    deterministic), then a census per (R,F,M) cell. Plan shape: one
    user-keyed aggregate, three window passes over the SAME
    user-level frame (tiny vs the fact table — |users| rows), one
    final cell rollup; the fact scan is touched exactly once (each
    ordered_ntile derives n from its own per-partition totals and
    checkpoints its input, so no pass re-executes the rollup's
    lineage). The
    corpus-max recency anchor is a scalar subquery → broadcast, not a
    per-row re-aggregation. NTILE needs a total order; each of the
    three global quartile passes runs through the SHIPPED two-pass
    rank (functions/prefix.py ordered_ntile — exact NTILE bucket
    arithmetic over the scalable row_number), so the user frame never
    funnels through one window task at any cardinality.  Production
    may still prefer approx_percentile cutoffs (the C95 GK contract)
    joined map-side when sketch error is acceptable — this form is
    the EXACT one."""
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("mx"))
    base = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("frequency"),
            csum("value").alias("monetary"),
        )
        .crossJoin(F.broadcast(max_ts))
        .select(
            "user_id",
            F.datediff(F.to_date("mx"), F.to_date("last_ts")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    from stellarsql_spark.functions.prefix import ordered_ntile

    scored = ordered_ntile(
        base, [F.col("recency_days"), F.col("user_id")], 4, "r_score"
    )
    scored = ordered_ntile(
        scored, [F.col("frequency").desc(), F.col("user_id")], 4, "f_score"
    )
    scored = ordered_ntile(
        scored, [F.col("monetary").desc(), F.col("user_id")], 4, "m_score"
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        csum("monetary").alias("segment_value"),
    )


# --- DAU / MAU / stickiness ------------------------------------------

_DAU_MAU_ORACLE = """
WITH dau AS (
  SELECT date_trunc('month', ts) AS month, CAST(ts AS DATE) AS day,
         COUNT(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2
),
mau AS (
  SELECT date_trunc('month', ts) AS month, COUNT(DISTINCT user_id) AS mau
  FROM events GROUP BY 1
)
SELECT d.month, COUNT(*) AS n_days, MIN(m.mau) AS mau,
       ROUND(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*), 6) AS avg_dau,
       ROUND(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / MIN(m.mau), 6) AS stickiness
FROM dau d JOIN mau m ON d.month = m.month
GROUP BY d.month
"""


@register("b_ev_dau_mau", oracle=_DAU_MAU_ORACLE, tags=("events", "engagement"))
def b_ev_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C141: DAU/MAU engagement rollup — daily and monthly distinct
    actives plus the stickiness ratio (avg DAU / MAU), the standard
    product-engagement gauge. Two distinct-count aggregations at
    different time grains + a month-keyed join; at 100 TB both
    distinct counts swap for HLL sketches (b_agg_hll_merge's
    mergeable path) with the same plan shape, and the month join is
    a broadcast of a 12-row table. Timestamps ride the pinned-UTC
    session (catalog.load_table), so day/month boundaries agree with
    the oracle on any host."""
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(
        F.date_trunc("month", "ts").alias("month"), F.col("ts").cast("date").alias("day")
    ).agg(F.count_distinct("user_id").alias("dau"))
    mau = ev.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    return (
        dau.join(F.broadcast(mau), "month")
        .groupBy("month")
        .agg(
            F.count("*").alias("n_days"),
            F.min("mau").alias("mau"),
            F.round(F.sum("dau").cast("double") / F.count("*"), 6).alias("avg_dau"),
            F.round(
                F.sum("dau").cast("double") / F.count("*") / F.min("mau"), 6
            ).alias("stickiness"),
        )
    )


# --- two-proportion A/B test -----------------------------------------

_ABTEST_ORACLE = """
WITH assign AS (
  SELECT user_id, user_id % 2 AS grp,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
g AS (
  SELECT grp, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS conv
  FROM assign GROUP BY grp
),
w AS (
  SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
         MAX(CASE WHEN grp = 0 THEN conv END) AS c_a,
         MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
         MAX(CASE WHEN grp = 1 THEN conv END) AS c_b
  FROM g
)
SELECT n_a, c_a, n_b, c_b,
       ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
       ROUND(
         (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
         / sqrt( (CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
               * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b) ), 6) AS z_stat
FROM w
"""


@register("b_ev_ab_test", oracle=_ABTEST_ORACLE, tags=("events", "abtest", "stats"))
def b_ev_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C145: two-proportion A/B test — deterministic user-id parity
    assignment, per-user conversion (a purchase above the value-150 threshold —
    chosen so neither arm saturates: a pooled rate of exactly 0 or 1
    zeroes the z denominator, which ANSI mode correctly refuses to
    divide by), pooled
    two-proportion z-statistic. The whole test reduces to FOUR
    integers (n, conversions per arm) — the experiment-analysis shape
    that runs daily on every product metric — so both engines derive
    the identical z from identical integer sufficient statistics.
    Scale shape: one user-keyed conversion rollup (map-side combine
    on the boolean max), one 2-row aggregate, then scalar math; at
    100 TB the user rollup is the only data-sized pass and it
    partial-aggregates before its single shuffle."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).alias("grp"), "converted")
    g = assign.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("c_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    pp = (F.col("c_a") + F.col("c_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    return w.select(
        "n_a", "c_a", "n_b", "c_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round((ra - rb) / F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))), 6).alias("z_stat"),
    )


# --- time-to-convert distribution ------------------------------------

_TTC_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase
  FROM events GROUP BY user_id
),
conv AS (
  SELECT user_id, first_purchase - first_view AS delta_us
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
)
SELECT COUNT(*) AS n_converted,
       CAST(MIN(delta_us) AS BIGINT) AS min_us,
       CAST(MAX(delta_us) AS BIGINT) AS max_us,
       ROUND(CAST(quantile_cont(delta_us, 0.5) AS DOUBLE), 1) AS p50_us,
       ROUND(CAST(quantile_cont(delta_us, 0.9) AS DOUBLE), 1) AS p90_us
FROM conv
"""


@register("b_ev_time_to_convert", oracle=_TTC_ORACLE, tags=("events", "funnel", "latency"))
def b_ev_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C147: time-to-convert distribution — per user, the latency from
    first 'view' to first subsequent 'purchase', summarized as exact
    interpolated percentiles over integer microsecond deltas (the
    funnel-latency companion to b_ev_funnel's conversion counts).
    Both engines interpolate continuous quantiles identically on the
    same integer multiset (Spark `percentile`, DuckDB
    `quantile_cont`), and the deltas are exact unix_micros integers
    under the pinned-UTC session. Scale shape: one user-keyed
    conditional-min rollup (map-side combine), then a single bounded
    aggregate; at 100 TB the percentile swaps to approx_percentile's
    mergeable t-digest with the same plan."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.unix_micros("ts"))).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_purchase"),
    )
    conv = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).alias("delta_us"))
    return conv.agg(
        F.count("*").alias("n_converted"),
        F.min("delta_us").alias("min_us"),
        F.max("delta_us").alias("max_us"),
        F.round(F.expr("percentile(delta_us, 0.5)").cast("double"), 1).alias("p50_us"),
        F.round(F.expr("percentile(delta_us, 0.9)").cast("double"), 1).alias("p90_us"),
    )


# --- Market-basket association rules (C175) ---------------------------

_RULES_MIN_SUPPORT = 50   # pair must appear in >= 50 baskets
_RULES_TOPN = 20

# Directional association rules a=>b over order baskets (items =
# part brands, 25 of them — the natural basket vocabulary; raw part
# keys are near-unique so no pair would clear any support floor).
# support = P(a,b), confidence = P(b|a), lift = P(a,b)/(P(a)P(b)).
# All three are single divisions on exact long counts rounded at the
# millionth boundary; ranking compares exact longs.
_RULES_ORACLE = f"""
WITH basket AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_baskets FROM basket),
freq AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c1 FROM basket GROUP BY item),
pairs AS (
  SELECT a.item AS i1, b.item AS i2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM basket a JOIN basket b ON a.okey = b.okey AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING COUNT(*) >= {_RULES_MIN_SUPPORT}
),
rules AS (
  SELECT i1 AS antecedent, i2 AS consequent, c12 FROM pairs
  UNION ALL
  SELECT i2, i1, c12 FROM pairs
),
scored AS (
  SELECT antecedent, consequent, c12, fa.c1 AS c_ante, fb.c1 AS c_cons,
         CAST(ROUND(1000000 * CAST(c12 AS DOUBLE) / n_baskets) AS BIGINT) AS support_m,
         CAST(ROUND(1000000 * CAST(c12 AS DOUBLE) / fa.c1) AS BIGINT) AS conf_m,
         CAST(ROUND(1000000 * CAST(n_baskets * c12 AS DOUBLE) / (fa.c1 * fb.c1))
              AS BIGINT) AS lift_m
  FROM rules JOIN freq fa ON fa.item = antecedent
             JOIN freq fb ON fb.item = consequent
             CROSS JOIN n
)
SELECT * FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      ORDER BY lift_m DESC, conf_m DESC, antecedent, consequent) AS INT) AS rn
  FROM scored
) WHERE rn <= {_RULES_TOPN}
"""


@register("b_basket_rules", oracle=_RULES_ORACLE, tags=("analytics", "basket", "association"))
def b_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C175: market-basket association rules (support / confidence /
    lift) over order baskets — the co-purchase miner behind "customers
    who bought X also bought Y".  Directional rules distinguish it
    from b_llm_pmi_cooc's symmetric association: confidence P(b|a) is
    asymmetric and is what a recommender thresholds on.

    100 TB shape: the basket incidence dedups in one (order, item)
    shuffle with the part dimension broadcast into the scan; the pair
    self-join co-partitions on the order key so each basket expands
    its own pairs locally (bounded by basket-size², here <=11 items);
    the pair rollup keys on a 25-item vocabulary so the final
    exchange is tiny, and the support floor prunes before ranking.
    Item frequencies broadcast back onto the rules."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n_baskets = basket.select("okey").distinct().count()
    freq = basket.groupBy("item").agg(F.count("*").cast("bigint").alias("c1"))
    a = basket.select("okey", F.col("item").alias("i1"))
    b = basket.select(F.col("okey").alias("okey_b"), F.col("item").alias("i2"))
    pairs = (
        a.join(b, (a.okey == b.okey_b) & (F.col("i1") < F.col("i2")))
        .groupBy("i1", "i2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        .where(F.col("c12") >= _RULES_MIN_SUPPORT)
    )
    rules = pairs.select(
        F.col("i1").alias("antecedent"), F.col("i2").alias("consequent"), "c12"
    ).unionByName(
        pairs.select(
            F.col("i2").alias("antecedent"), F.col("i1").alias("consequent"), "c12"
        )
    )
    fa = freq.select(F.col("item").alias("antecedent"), F.col("c1").alias("c_ante"))
    fb = freq.select(F.col("item").alias("consequent"), F.col("c1").alias("c_cons"))
    scored = (
        rules.join(F.broadcast(fa), "antecedent")
        .join(F.broadcast(fb), "consequent")
        .select(
            "antecedent",
            "consequent",
            "c12",
            "c_ante",
            "c_cons",
            F.round(1_000_000 * F.col("c12").cast("double") / n_baskets)
            .cast("bigint")
            .alias("support_m"),
            F.round(1_000_000 * F.col("c12").cast("double") / F.col("c_ante"))
            .cast("bigint")
            .alias("conf_m"),
            F.round(
                1_000_000
                * (F.lit(n_baskets) * F.col("c12")).cast("double")
                / (F.col("c_ante") * F.col("c_cons"))
            )
            .cast("bigint")
            .alias("lift_m"),
        )
    )
    w = Window.orderBy(
        F.col("lift_m").desc(), F.col("conf_m").desc(), "antecedent", "consequent"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= _RULES_TOPN)
    )


# --- First-order Markov transition matrix (C177) ----------------------

# Event-type transition probabilities per user session stream: the
# behavioral fingerprint under next-action prediction, bot detection
# (self-loops on 'error'), and journey modeling.  Probabilities are
# one division on exact long counts at the millionth boundary; the
# sequence order is pinned by (ts, event_id) so timestamp collisions
# cannot flip a transition between engines.
_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
trans AS (
  SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
),
tot AS (
  SELECT *, CAST(SUM(cnt) OVER (PARTITION BY prev) AS BIGINT) AS row_total
  FROM trans
)
SELECT prev, next, cnt, row_total,
       CAST(ROUND(1000000 * CAST(cnt AS DOUBLE) / row_total) AS BIGINT) AS prob_m
FROM tot
"""


@register("b_ev_markov", oracle=_MARKOV_ORACLE, tags=("analytics", "markov", "sequence"))
def b_ev_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C177: first-order Markov transition matrix over each user's
    event sequence — P(next event type | previous event type).  The
    sequence primitive under next-action prediction and journey
    modeling; b_ev_paths ranks whole path prefixes, this factors the
    chain into its one-step kernel.

    Scale shape: the lag window co-partitions on user_id (the same
    user-keyed shuffle every sessionization op pays — at 100 TB this
    is one exchange of the event log), then the transition rollup
    keys on |event types|² = 25 cells, so the second exchange and the
    per-row normalization window are constant-size.  Determinism: the
    window orders by (ts, event_id), so same-timestamp events cannot
    reorder between engines or partitionings."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev", F.lag("event_type").over(w))
    trans = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wt = Window.partitionBy("prev")
    tot = trans.withColumn("row_total", F.sum("cnt").over(wt).cast("bigint"))
    return tot.select(
        "prev",
        "next",
        "cnt",
        "row_total",
        F.round(1_000_000 * F.col("cnt").cast("double") / F.col("row_total"))
        .cast("bigint")
        .alias("prob_m"),
    )


# --- Cumulative unique users (C181) ------------------------------------

# "Total distinct users to date" per day — the growth curve on every
# dashboard.  A naive windowed COUNT(DISTINCT) over an expanding
# frame re-scans history per day; the scalable identity is: each user
# contributes on exactly their FIRST day, so daily new-user counts
# prefix-sum to the cumulative uniques.  100 TB shape: one user-keyed
# rollup (min day per user), one day-keyed rollup (|days| rows), one
# tiny prefix window.
_CUMUNIQ_ORACLE = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first_seen GROUP BY first_day
)
SELECT CAST(CAST(day AS TIMESTAMP) AS VARCHAR) AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
FROM daily
"""


@register("b_ev_cumulative_uniques", oracle=_CUMUNIQ_ORACLE, tags=("analytics", "uniques", "growth"))
def b_ev_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C181: cumulative distinct users per day via the first-touch
    decomposition — MIN(day) per user, count new users per day,
    prefix-sum.  The pattern matters because the naive expanding
    COUNT(DISTINCT) window is quadratic in history length and keeps
    per-day distinct state; this form is two slim rollups and never
    revisits a day.  (b_ev_dau_mau covers the windowed-activity
    variant; this is the monotone all-time curve.)

    Day is emitted as the timestamp-cast string so both engines
    serialize the same literal (DuckDB DATE vs Spark DATE stringify
    identically only through TIMESTAMP — the documented gotcha)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("timestamp").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


# --- Cohort LTV curves (C185) -------------------------------------------

_LTV_MAX_AGE = 11   # report the first 12 months of each cohort's life

# Lifetime-value curves: customers cohort by their FIRST order month;
# each cohort's cumulative revenue per account is tracked against
# cohort age in months.  The retention matrix's revenue twin
# (b_ev_retention counts active users; this sums what they spend).
# Month arithmetic is the integer index year*12+month; per-customer
# averages divide exact long cents once per (cohort, age) cell.
_LTV_ORACLE = f"""
WITH first_mo AS (
  SELECT o_custkey,
         CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS cohort_mi
  FROM orders GROUP BY o_custkey
),
sizes AS (
  SELECT cohort_mi, CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM first_mo GROUP BY cohort_mi
),
aged AS (
  SELECT f.cohort_mi,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.cohort_mi AS BIGINT) AS age,
         CAST(SUM(CAST(ROUND(100 * o.o_totalprice) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders o JOIN first_mo f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_mi, age, rev_c,
         CAST(SUM(rev_c) OVER (PARTITION BY cohort_mi ORDER BY age) AS BIGINT) AS cum_rev_c
  FROM aged
)
SELECT c.cohort_mi, c.age, s.n_cust, c.rev_c, c.cum_rev_c,
       CAST(ROUND(CAST(c.cum_rev_c AS DOUBLE) / s.n_cust) AS BIGINT) AS ltv_c
FROM cum c JOIN sizes s ON c.cohort_mi = s.cohort_mi
WHERE c.age <= {_LTV_MAX_AGE}
"""


@register("b_ev_cohort_ltv", oracle=_LTV_ORACLE, tags=("analytics", "cohort", "ltv"))
def b_ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C185: cohort lifetime-value curves — cumulative revenue per
    account by cohort age, for each first-order-month cohort's first
    year.  The revenue companion to b_ev_retention's activity matrix;
    together they are the growth-accounting pair every subscription
    and marketplace report is built on.

    Scale shape: first-touch rollup (customer-keyed, the one
    data-sized shuffle), self-join back on the customer key
    (co-partitioned), then a (cohort, age) rollup bounded by
    months² cells; the cumulative window runs per cohort over <=
    |ages| rows.  Exactness: integer month indexes, exact cents, one
    rounded division per cell."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    first_mo = o.groupBy("o_custkey").agg(F.min(mi).alias("cohort_mi"))
    sizes = first_mo.groupBy("cohort_mi").agg(
        F.count("*").cast("bigint").alias("n_cust")
    )
    aged = (
        o.join(first_mo, "o_custkey")
        .groupBy(
            "cohort_mi", (mi - F.col("cohort_mi")).cast("bigint").alias("age")
        )
        .agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    )
    w = (
        Window.partitionBy("cohort_mi")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = aged.withColumn("cum_rev_c", F.sum("rev_c").over(w).cast("bigint"))
    return (
        cum.where(F.col("age") <= _LTV_MAX_AGE)
        .join(F.broadcast(sizes), "cohort_mi")
        .select(
            "cohort_mi",
            "age",
            "n_cust",
            "rev_c",
            "cum_rev_c",
            F.round(F.col("cum_rev_c").cast("double") / F.col("n_cust"))
            .cast("bigint")
            .alias("ltv_c"),
        )
    )


# --- Churn analysis (C192) ------------------------------------------------

# Churn = no order in the trailing 12 months before the corpus's
# last order date, reported as a rate per first-order-year cohort.
# The month cutoff is integer arithmetic on year*12+month indexes
# (no date intervals cross engines); rates divide exact long counts
# once per cohort.
_CHURN_ORACLE = """
WITH span AS (
  SELECT CAST(MAX(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS last_mi
  FROM orders
),
cust AS (
  SELECT o_custkey,
         CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS first_mi,
         CAST(MAX(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS last_order_mi
  FROM orders GROUP BY o_custkey
),
flagged AS (
  SELECT CAST(first_mi // 12 AS BIGINT) AS cohort_yr,
         CASE WHEN last_order_mi < last_mi - 12 THEN 1 ELSE 0 END AS churned
  FROM cust CROSS JOIN span
)
SELECT cohort_yr,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(churned) AS BIGINT) AS n_churned,
       CAST(ROUND(1000000 * CAST(SUM(churned) AS DOUBLE) / COUNT(*)) AS BIGINT) AS churn_m
FROM flagged GROUP BY cohort_yr
"""


@register("b_ev_churn", oracle=_CHURN_ORACLE, tags=("analytics", "churn", "cohort"))
def b_ev_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C192: churn-rate report — a customer churns if their LAST
    order predates the corpus horizon by more than 12 months; rates
    per first-order-year cohort.  The subscription-analytics staple
    that b_ev_retention (activity matrix) and b_ev_cohort_ltv
    (revenue) complete: acquisition cohort × survival.

    Scale shape: one customer-keyed rollup carrying both MIN and MAX
    month in the same pass, the horizon as a 1-row broadcast, then a
    |years|-cell rollup.  Exactness: integer month indexes, one
    rounded division per cohort."""
    o = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    span = o.agg(F.max(mi).alias("last_mi"))
    cust = o.groupBy("o_custkey").agg(
        F.min(mi).alias("first_mi"), F.max(mi).alias("last_order_mi")
    )
    flagged = cust.crossJoin(F.broadcast(span)).select(
        F.expr("first_mi div 12").cast("bigint").alias("cohort_yr"),
        F.when(F.col("last_order_mi") < F.col("last_mi") - 12, 1)
        .otherwise(0)
        .alias("churned"),
    )
    return flagged.groupBy("cohort_yr").agg(
        F.count("*").cast("bigint").alias("n_cust"),
        F.sum("churned").cast("bigint").alias("n_churned"),
        F.round(1_000_000 * F.sum("churned").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("churn_m"),
    )


# --- Max concurrent sessions via sweep line (C198) --------------------------

_CONCUR_TTL_US = 300_000_000  # a session extends 5 min past its event

# "Peak concurrent users" — the interval-stacking question every
# capacity planner asks.  The sweep-line normal form: each interval
# emits +1 at its start and -1 at its end, the running sum over the
# time-ordered deltas is the concurrency curve, and its max is the
# answer — no interval self-join, no per-tick expansion.  Ties order
# (ts, delta) so an end at time T closes BEFORE a start at T opens
# (half-open intervals, the convention that keeps adjacent sessions
# from double-counting).
_CONCUR_ORACLE = f"""
WITH iv AS (
  SELECT user_id, ts AS t0,
         ts + INTERVAL 300 SECOND AS t1
  FROM events
),
deltas AS (
  SELECT t0 AS t, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT t1, CAST(-1 AS BIGINT) FROM iv
),
curve AS (
  SELECT t, delta,
         CAST(SUM(delta) OVER (ORDER BY t, delta) AS BIGINT) AS concurrent
  FROM deltas
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_deltas,
       CAST(MAX(concurrent) AS BIGINT) AS peak,
       CAST(CAST(MIN(CASE WHEN concurrent = (SELECT MAX(concurrent) FROM curve)
                 THEN t END) AS TIMESTAMP) AS VARCHAR) AS first_peak_at
FROM curve
"""


@register("b_ev_concurrency", oracle=_CONCUR_ORACLE, tags=("analytics", "concurrency", "sweepline"))
def b_ev_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C198: peak concurrent sessions by sweep line — every event
    opens a 5-minute session interval; +1/-1 deltas in time order
    prefix-sum to the concurrency curve, whose max (and first time it
    is reached) is the capacity-planning number.  The interval-
    stacking normal form: never an interval×tick expansion, never an
    overlap self-join.

    Scale shape: delta emission is map-side (union of two
    projections); the time-ordered prefix sum runs through the
    SHIPPED two-pass range-partitioned scan (functions/prefix.py) —
    the deltas stream is 2×|events|, the single most data-sized
    prefix in the suite, so no single-partition window is ever
    acceptable here.  (t, delta) duplicates are fully identical rows,
    the helper's documented safe case: the (row, prefix) multiset —
    and hence peak and MIN(t at peak) — is tie-permutation-invariant.
    Tie order (t, delta) closes ends before starts — the half-open
    convention, asserted in the test."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 300 SECOND")).alias("t1"),
    )
    deltas = iv.select(F.col("t0").alias("t"), F.lit(1).cast("bigint").alias("delta")).unionAll(
        iv.select(F.col("t1").alias("t"), F.lit(-1).cast("bigint").alias("delta"))
    )
    from stellarsql_spark.functions.prefix import ordered_running

    curve = ordered_running(
        deltas,
        order=[F.col("t"), F.col("delta")],
        sums={"concurrent": F.col("delta")},
    ).withColumn("concurrent", F.col("concurrent").cast("bigint"))
    peak = curve.agg(F.max("concurrent").alias("pk"))
    return (
        curve.crossJoin(F.broadcast(peak))
        .agg(
            F.count("*").cast("bigint").alias("n_deltas"),
            F.max("concurrent").cast("bigint").alias("peak"),
            F.min(F.when(F.col("concurrent") == F.col("pk"), F.col("t")))
            .cast("timestamp")
            .cast("string")
            .alias("first_peak_at"),
        )
    )


# --- Hour-of-week activity heatmap (C199) -----------------------------------

# The 7×24 activity matrix behind every product-analytics heatmap.
# Weekday comes from epoch-day arithmetic ((days+4)%7, 0=Sunday — the
# b_ts_seasonal_decompose convention; engine dayofweek() numbering
# never enters), hour from epoch-hour mod 24 (the corpus ts is UTC).
_HEATMAP_ORACLE = """
WITH cells AS (
  SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
         CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod,
         user_id
  FROM events
)
SELECT dow, hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM cells GROUP BY dow, hod
"""


@register("b_ev_heatmap", oracle=_HEATMAP_ORACLE, tags=("analytics", "heatmap"))
def b_ev_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C199: hour-of-week activity heatmap — events and distinct
    users per (weekday, hour) cell.  The 7×24 rollup every usage
    dashboard draws; pure epoch arithmetic keys (see oracle note) so
    the cell assignment is engine- and locale-independent.

    Scale shape: map-side cell keys, one 168-cell rollup; the
    distinct-user count is the only reason a second shuffle exists
    (exact per-cell HLL would make it one)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        F.expr("(unix_micros(ts) div 86400000000 + 4) % 7").cast("bigint").alias("dow"),
        F.expr("(unix_micros(ts) div 3600000000) % 24").cast("bigint").alias("hod"),
        "user_id",
    )
    return cells.groupBy("dow", "hod").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# --- Kaplan-Meier survival curve (C203) --------------------------------------

# Time-to-repeat-purchase survival with right censoring: the duration
# is days from a customer's first to second order; single-order
# customers are CENSORED at the corpus horizon (they leave the risk
# set without an event — dropping them instead would bias survival
# down, the classic mistake).  The product-limit estimator
# S(t) = Π_{t_i <= t} (1 - d_i / n_i) runs as a SUM of per-time
# ln(1 - d/n) terms rounded to integer BILLIONTHS (the exact-sum
# convention: one ln per distinct event time on identical exact
# longs, then prefix-sum of exact integers — no float product chain).
# A terminal time where EVERYONE remaining has the event (d = n_risk,
# S hits exactly 0, ln undefined) is excluded — the standard
# presentation stops the curve there.
_KM_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(MIN(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS d1,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
second AS (
  SELECT o.o_custkey,
         CAST(MIN(epoch_us(o.o_orderdate) // 86400000000) AS BIGINT) AS d2
  FROM orders o JOIN per_cust p ON o.o_custkey = p.o_custkey
  WHERE CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) > p.d1
  GROUP BY o.o_custkey
),
horizon AS (
  SELECT CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS hz FROM orders
),
obs AS (
  SELECT p.o_custkey,
         CASE WHEN s.d2 IS NULL THEN hz - p.d1 ELSE s.d2 - p.d1 END AS dur,
         CASE WHEN s.d2 IS NULL THEN 0 ELSE 1 END AS ev
  FROM per_cust p LEFT JOIN second s ON p.o_custkey = s.o_custkey
  CROSS JOIN horizon
),
times AS (
  SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM obs GROUP BY dur
),
risk AS (
  SELECT t, d, leaving,
         CAST((SELECT COUNT(*) FROM obs) - COALESCE(SUM(leaving) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_risk
  FROM times
),
terms AS (
  SELECT t, d, n_risk,
         CAST(ROUND(1000000000 * ln(1.0 - CAST(d AS DOUBLE) / n_risk)) AS BIGINT) AS lnterm_b
  FROM risk WHERE d > 0 AND d < n_risk
)
SELECT t, d, n_risk, lnterm_b,
       CAST(SUM(lnterm_b) OVER (ORDER BY t) AS BIGINT) AS ln_surv_b
FROM terms
"""


@register("b_ev_survival_km", oracle=_KM_ORACLE, tags=("analytics", "survival", "km"))
def b_ev_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C203: Kaplan-Meier survival of time-to-repeat-purchase with
    right censoring at the corpus horizon — the product-limit
    estimator, carried as exact prefix sums of billionth-scaled
    ln(1 - d/n) terms (no float product chain; exp of ln_surv_b/1e9
    recovers S(t) downstream).  Censoring keeps single-order
    customers in the risk set until the horizon — the estimator's
    whole point versus a naive conversion curve (b_ev_time_to_convert
    reports observed conversions only).

    Scale shape: two customer-keyed rollups (first/second order day),
    the 1-row horizon broadcast, a |distinct duration| rollup, and
    two prefix windows over it."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    eday = F.expr(
        "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    ).cast("bigint")
    days = o.select("o_custkey", eday.alias("d"))
    per_cust = days.groupBy("o_custkey").agg(F.min("d").alias("d1"))
    second = (
        days.join(per_cust, "o_custkey")
        .where(F.col("d") > F.col("d1"))
        .groupBy("o_custkey")
        .agg(F.min("d").alias("d2"))
    )
    horizon = days.agg(F.max("d").alias("hz"))
    obs = (
        per_cust.join(second, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("d2").isNull(), F.col("hz") - F.col("d1"))
            .otherwise(F.col("d2") - F.col("d1"))
            .alias("dur"),
            F.when(F.col("d2").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    n_total = obs.count()
    times = obs.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("leaving"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = times.withColumn(
        "n_risk",
        (F.lit(n_total) - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))).cast(
            "bigint"
        ),
    )
    terms = risk.where((F.col("d") > 0) & (F.col("d") < F.col("n_risk"))).select(
        "t",
        "d",
        "n_risk",
        F.round(
            1_000_000_000
            * F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
        )
        .cast("bigint")
        .alias("lnterm_b"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return terms.withColumn(
        "ln_surv_b", F.sum("lnterm_b").over(wcum).cast("bigint")
    )


# --- Inter-arrival time distribution (C211) -----------------------------------

# The distribution of per-user gaps between consecutive events,
# log2-bucketed with PURE-INTEGER bucketing: bucket = number of binary
# digits of (1 + gap seconds) — floor(log2)+1 without a transcendental
# (bin() has no leading zeros in either engine; verified for BIGINT).
# Lag ties are closed by the (ts, event_id) total order.
_INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT CAST(LENGTH(bin(1 + gap_us // 1000000)) AS BIGINT) AS bucket,
       COUNT(*) AS n_gaps,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


@register("b_ev_interarrival", oracle=_INTERARRIVAL_ORACLE, tags=("events", "interarrival"))
def b_ev_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C211: inter-arrival-time distribution — per-user gaps between
    consecutive events, histogrammed into doubling buckets.  The
    bucket is the BIT LENGTH of (1 + whole seconds): an exact integer
    floor(log2)+1 via bin()/LENGTH, so the histogram boundary can
    never ride a float log's last ulp.  Gaps are exact unix_micros
    differences; lag order is totalized by (ts, event_id).

    Scale shape: one user-keyed window (the sessionizer's shuffle),
    then a ~40-bucket rollup with map-side partials — the classic
    'user activity tempo' report shape."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy(
            F.length(F.bin(1 + F.expr("gap_us div 1000000")))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("gap_us").cast("bigint").alias("sum_gap_us"),
            F.min("gap_us").cast("bigint").alias("min_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
    )


# --- New vs returning daily actives (C220) ---------------------------------------

# The growth-accounting split every product dashboard leads with:
# today's actives decomposed into first-ever-seen and returning.
# Exact by construction — a user is "new" on day d iff d equals
# their min active day.
_NEWRET_ORACLE = """
WITH ud AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS d
  FROM events GROUP BY 1, 2
),
firsts AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY 1)
SELECT d, COUNT(*) AS n_active,
       CAST(SUM(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN d > d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
FROM ud JOIN firsts ON ud.user_id = firsts.user_id
GROUP BY d ORDER BY d
"""


@register("b_ev_new_returning", oracle=_NEWRET_ORACLE, tags=("events", "growth"))
def b_ev_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C220: daily actives split into new (first-ever day) vs
    returning — growth accounting's numerator decomposition, the
    report b_ev_dau_mau (stickiness) and b_ev_retention (cohorts)
    sandwich but neither produces.

    Scale shape: one (user, day) dedup rollup (map-side partials,
    keyed by user), a user-window min for the first day on the SAME
    partitioning (no second shuffle), then a |days|-row rollup."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    ud = e.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d"),
    ).agg(F.lit(1).alias("one"))
    d0 = F.min("d").over(Window.partitionBy("user_id"))
    flagged = ud.select("d", d0.alias("d0"))
    return (
        flagged.groupBy("d")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(F.when(F.col("d") == F.col("d0"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("d") > F.col("d0"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
        )
    )


# --- Windowed funnel: conversion within N days (C223) ------------------------------

# Real funnels have conversion WINDOWS — "purchased within 7 days of
# signup", not "ever" (B-8's b_ev_funnel is the unwindowed form).
# First-touch signup per user, then the first purchase strictly
# after it, then one row of exact conversion counts at 1/3/7/30-day
# horizons.
_FUNNEL_WINDOWED_ORACLE = """
WITH signup AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT s.user_id, s.t_signup, MIN(epoch_us(e.ts)) AS t_conv
  FROM signup s
  JOIN events e ON e.user_id = s.user_id
   AND e.event_type = 'purchase' AND epoch_us(e.ts) > s.t_signup
  GROUP BY s.user_id, s.t_signup
)
SELECT (SELECT COUNT(*) FROM signup) AS n_signup,
       CAST(SUM(CASE WHEN t_conv - t_signup <= 1 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_1d,
       CAST(SUM(CASE WHEN t_conv - t_signup <= 3 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_3d,
       CAST(SUM(CASE WHEN t_conv - t_signup <= 7 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_7d,
       CAST(SUM(CASE WHEN t_conv - t_signup <= 30 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_30d,
       COUNT(*) AS conv_ever
FROM conv
"""


@register("b_ev_funnel_windowed", oracle=_FUNNEL_WINDOWED_ORACLE, tags=("events", "funnel"))
def b_ev_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C223: funnel conversion at explicit time horizons — signups
    converting to a purchase within 1/3/7/30 days of first signup
    (strictly after it).  The unwindowed b_ev_funnel overstates
    conversion by counting forever; horizon curves are what growth
    teams actually compare.

    Scale shape: a user-keyed signup rollup, one user-keyed join back
    to purchase events (both sides shuffle on user_id once), a
    user-keyed conversion rollup, then a 1-row aggregate; horizons
    are CASE predicates over the same exact integer deltas, so all
    four cost one pass."""
    e = load_table(spark, sf_dir, "events")
    signup = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_signup"))
    )
    conv = (
        signup.join(
            e.where(F.col("event_type") == "purchase").select(
                "user_id", F.unix_micros("ts").alias("t_p")
            ),
            "user_id",
        )
        .where(F.col("t_p") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("t_p").alias("t_conv"))
    )
    n_signup = signup.agg(F.count("*").alias("n_signup"))
    day_us = 86_400_000_000
    horizons = conv.agg(
        *[
            F.sum(
                F.when(F.col("t_conv") - F.col("t_signup") <= d * day_us, 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"conv_{d}d")
            for d in (1, 3, 7, 30)
        ],
        F.count("*").alias("conv_ever"),
    )
    return n_signup.crossJoin(F.broadcast(horizons)).select(
        "n_signup", "conv_1d", "conv_3d", "conv_7d", "conv_30d", "conv_ever"
    )


# --- Rolling 7-day distinct actives via delta sweep (C228) ---------------------------

# Sliding-window COUNT DISTINCT is the classic "can't just window it"
# aggregate: distinct doesn't decompose over overlapping frames.  The
# exact scalable form is the interval-union DELTA SWEEP: each user's
# active days merge into coverage islands (an active day a covers
# [a, a+6]; islands split when consecutive active days gap by >= 8),
# each island emits +1 at its start and −1 past its end, and a prefix
# sum over the day axis reads off the rolling WAU.  The oracle is the
# naive O(days x users) range join — same answer, the contrast IS the
# point.
_ROLLING_WAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events
),
days AS (SELECT DISTINCT d FROM ud)
SELECT days.d, COUNT(DISTINCT ud.user_id) AS wau
FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
GROUP BY days.d ORDER BY days.d
"""


@register("b_ev_rolling_wau", oracle=_ROLLING_WAU_ORACLE, tags=("events", "wau", "sweep"))
def b_ev_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C228: rolling 7-day distinct active users, EXACT, by interval-
    union delta sweep — the scalable algorithm for sliding COUNT
    DISTINCT (which never decomposes over overlapping windows):
    per user, merge active days into coverage islands (gap >= 8
    splits), emit +1/−1 boundary deltas, prefix-sum along the day
    axis, read the level at each active day.

    Scale shape: one (user, day) dedup (the only data-sized shuffle),
    one user-partitioned lag window over users' active days, then the
    sweep runs over O(#islands) deltas — bounded by user-days, tiny
    after the dedup.  The oracle's range-join form is O(days · users)
    and exists to certify this plan, not to compete with it."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("d")
    isl = ud.select(
        "user_id",
        "d",
        F.when(
            F.lag("d").over(wu).isNull() | (F.col("d") - F.lag("d").over(wu) >= 8), 1
        )
        .otherwise(0)
        .alias("is_start"),
    ).withColumn("island", F.sum("is_start").over(wu))
    bounds = isl.groupBy("user_id", "island").agg(
        F.min("d").alias("a"), (F.max("d") + 7).alias("b")
    )
    deltas = bounds.select(F.col("a").alias("d"), F.lit(1).alias("delta")).unionAll(
        bounds.select(F.col("b").alias("d"), F.lit(-1).alias("delta"))
    )
    days = ud.select("d").distinct().withColumn("delta", F.lit(0))
    level = (
        deltas.unionAll(days)
        .groupBy("d")
        .agg(F.sum("delta").alias("dd"))
        .withColumn(
            "wau",
            F.sum("dd").over(
                Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        level.join(ud.select("d").distinct(), "d")
        .select("d", F.col("wau").cast("bigint").alias("wau"))
    )


# --- Audience overlap matrix (C229) ---------------------------------------------------

# How much do the event-type audiences overlap?  Exact Jaccard
# between user sets for every unordered pair of event types — the
# adtech/segmentation report, and the set-similarity machinery
# (b_llm_jaccard's) pointed at behavioral cohorts instead of
# shingles.
_AUDIENCE_ORACLE = """
WITH au AS (SELECT DISTINCT event_type AS et, user_id FROM events),
sizes AS (SELECT et, COUNT(*) AS n FROM au GROUP BY et),
inter AS (
  SELECT a.et AS et1, b.et AS et2, COUNT(*) AS n_both
  FROM au a JOIN au b ON a.user_id = b.user_id AND a.et < b.et
  GROUP BY 1, 2
)
SELECT et1, et2, n_both,
       CAST(sa.n AS BIGINT) AS n1, CAST(sb.n AS BIGINT) AS n2,
       CAST((1000000 * n_both) // (sa.n + sb.n - n_both) AS BIGINT) AS jaccard_m
FROM inter
JOIN sizes sa ON et1 = sa.et
JOIN sizes sb ON et2 = sb.et
ORDER BY et1, et2
"""


@register("b_ev_audience_overlap", oracle=_AUDIENCE_ORACLE, tags=("events", "overlap", "jaccard"))
def b_ev_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C229: audience overlap — exact Jaccard between every pair of
    event-type user sets (10 pairs over 5 types), in integer
    millionths.  The inverted-index set-similarity shape from the
    dedup family applied to behavioral cohorts.

    Scale shape: the (type, user) dedup shuffles once on user; the
    self-join is user-keyed (each user contributes |their types|²/2
    pair rows, bounded by 10); sizes broadcast back onto the 10-row
    intersection table."""
    e = load_table(spark, sf_dir, "events")
    au = e.select(F.col("event_type").alias("et"), "user_id").distinct()
    sizes = au.groupBy("et").agg(F.count("*").cast("bigint").alias("n"))
    a, b = au.alias("a"), au.alias("b")
    inter = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.et") < F.col("b.et")))
        .groupBy(F.col("a.et").alias("et1"), F.col("b.et").alias("et2"))
        .agg(F.count("*").alias("n_both"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnsRenamed({"et": "et1", "n": "n1"})), "et1")
        .join(F.broadcast(sizes.withColumnsRenamed({"et": "et2", "n": "n2"})), "et2")
        .select(
            "et1",
            "et2",
            "n_both",
            "n1",
            "n2",
            F.expr("(1000000 * n_both) div (n1 + n2 - n_both)")
            .cast("bigint")
            .alias("jaccard_m"),
        )
    )


# --- Recency-decayed customer value (C235) ----------------------------------------------

# Exponential time-decay scoring with a 7-day half-life, kept EXACT:
# the weight for an event aged w whole weeks is the INTEGER
# millionth 1000000 >> w (2^-w exactly, floor past week 20 → 0), so
# the decayed score is a plain BIGINT dot product — no pow(), whose
# last-ulp behavior differs across libm builds.  The decay anchor is
# the corpus max day (broadcast scalar), so the key is deterministic
# on any corpus snapshot.
_DECAY_ORACLE = """
WITH ev AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS d,
         CAST(ROUND(100 * value) AS BIGINT) AS v_c
  FROM events WHERE event_type = 'purchase'
),
anchor AS (SELECT MAX(d) AS d_max FROM ev),
w AS (
  SELECT user_id, v_c,
         (d_max - d) // 7 AS age_w
  FROM ev CROSS JOIN anchor
)
SELECT user_id,
       COUNT(*) AS n_purchases,
       CAST(SUM(v_c) AS BIGINT) AS raw_c,
       CAST(SUM(v_c * (CASE WHEN age_w >= 20 THEN 0
                            ELSE 1000000 >> age_w END)) AS BIGINT) AS decayed_cm
FROM w GROUP BY user_id
ORDER BY decayed_cm DESC, user_id
LIMIT 50
"""


@register("b_ev_decayed_value", oracle=_DECAY_ORACLE, tags=("events", "decay", "scoring"))
def b_ev_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C235: recency-decayed customer value — purchase cents weighted
    by 2^(-age_weeks) with a 7-day half-life, top-50 customers.  The
    weight is the exact INTEGER millionth (1000000 >> weeks, zero
    past week 20), so the whole score is a BIGINT dot product: the
    decay curve every CRM score uses, without pow()'s cross-libm
    ulp lottery.

    Scale shape: one filtered user rollup (map-side partials); the
    anchor max-day is a 1-row broadcast; top-50 via TakeOrdered."""
    e = load_table(spark, sf_dir, "events")
    ev = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d"),
        cents("value").alias("v_c"),
    )
    anchor = ev.agg(F.max("d").alias("d_max"))
    w = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "v_c",
        F.expr("(d_max - d) div 7").alias("age_w"),
    )
    weight = F.when(F.col("age_w") >= 20, F.lit(0)).otherwise(
        F.expr("shiftright(1000000, cast(age_w as int))")
    )
    return (
        w.groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("v_c").cast("bigint").alias("raw_c"),
            F.sum(F.col("v_c") * weight).cast("bigint").alias("decayed_cm"),
        )
        .orderBy(F.desc("decayed_cm"), F.asc("user_id"))
        .limit(50)
    )


# --- Wilson confidence interval for conversion rates (C247) -------------------------------

# The interval a rate dashboard should show (the normal approximation
# misbehaves at small n / extreme p; Wilson stays inside [0,1]).
# Sufficient statistics are exact integers; the interval is one
# fixed composition of IEEE correctly-rounded double ops (+ one
# sqrt) over them with the z=1.96 literal, rounded once at 1e-6.
_WILSON_ORACLE = """
WITH arm AS (
  SELECT user_id % 4 AS grp,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
s AS (
  SELECT grp, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c FROM arm GROUP BY grp
)
SELECT grp, n, c,
       ROUND(CAST(c AS DOUBLE) / n, 6) AS rate,
       ROUND((CAST(c AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
              - 1.96 * sqrt((CAST(c AS DOUBLE) / n) * (1 - CAST(c AS DOUBLE) / n) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1 + 1.96 * 1.96 / n), 6) AS wilson_lo,
       ROUND((CAST(c AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
              + 1.96 * sqrt((CAST(c AS DOUBLE) / n) * (1 - CAST(c AS DOUBLE) / n) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1 + 1.96 * 1.96 / n), 6) AS wilson_hi
FROM s ORDER BY grp
"""


@register("b_ev_rate_wilson", oracle=_WILSON_ORACLE, tags=("events", "stats", "wilson"))
def b_ev_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C247: Wilson score interval for per-arm conversion rates — the
    CI that stays inside [0, 1] and doesn't collapse at extreme rates
    (the normal-approximation interval the C145 z-test implies does
    both).  Four deterministic user-hash arms; the interval is an
    identical double expression in both engines over exact (n, c),
    rounded once.

    Scale shape: one user-keyed conversion rollup (map-side boolean
    max), a 4-row group, scalar math."""
    e = load_table(spark, sf_dir, "events")
    arm = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    ).select((F.col("user_id") % 4).alias("grp"), "conv")
    s = arm.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("conv").cast("bigint").alias("c")
    )
    p = F.col("c").cast("double") / F.col("n")
    z2 = 1.96 * 1.96
    center = p + z2 / (2 * F.col("n"))
    half = 1.96 * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return s.select(
        "grp",
        "n",
        "c",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


# --- Uplift with Newcombe interval (C253) ------------------------------------------------

# The experiment readout one level up from C145's z-statistic: the
# treatment-minus-control rate DIFFERENCE with Newcombe's hybrid
# score interval, which combines the two arms' Wilson bounds
# (lo = d − √((p1−l1)² + (u2−p2)²), hi symmetric) — the method that
# behaves at extreme rates where the Wald interval collapses.
# Deterministic: exact (n, c) per arm, then a fixed composition of
# correctly-rounded double ops, rounded once.
_UPLIFT_ORACLE = """
WITH arm AS (
  SELECT user_id % 2 AS grp,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
s AS (
  SELECT grp, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c FROM arm GROUP BY grp
),
wil AS (
  SELECT grp, n, c,
         CAST(c AS DOUBLE) / n AS p,
         (CAST(c AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
          - 1.96 * sqrt((CAST(c AS DOUBLE) / n) * (1 - CAST(c AS DOUBLE) / n) / n
                        + 1.96 * 1.96 / (4.0 * n * n))) / (1 + 1.96 * 1.96 / n) AS lo,
         (CAST(c AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
          + 1.96 * sqrt((CAST(c AS DOUBLE) / n) * (1 - CAST(c AS DOUBLE) / n) / n
                        + 1.96 * 1.96 / (4.0 * n * n))) / (1 + 1.96 * 1.96 / n) AS hi
  FROM s
),
wide AS (
  SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n_t,
         MAX(CASE WHEN grp = 1 THEN c END) AS c_t,
         MAX(CASE WHEN grp = 1 THEN p END) AS p_t,
         MAX(CASE WHEN grp = 1 THEN lo END) AS l_t,
         MAX(CASE WHEN grp = 1 THEN hi END) AS h_t,
         MAX(CASE WHEN grp = 0 THEN n END) AS n_c,
         MAX(CASE WHEN grp = 0 THEN c END) AS c_c,
         MAX(CASE WHEN grp = 0 THEN p END) AS p_c,
         MAX(CASE WHEN grp = 0 THEN lo END) AS l_c,
         MAX(CASE WHEN grp = 0 THEN hi END) AS h_c
  FROM wil
)
SELECT CAST(n_t AS BIGINT) AS n_t, CAST(c_t AS BIGINT) AS c_t,
       CAST(n_c AS BIGINT) AS n_c, CAST(c_c AS BIGINT) AS c_c,
       ROUND(p_t - p_c, 6) AS uplift,
       ROUND(p_t - p_c - sqrt((p_t - l_t) * (p_t - l_t)
                              + (h_c - p_c) * (h_c - p_c)), 6) AS uplift_lo,
       ROUND(p_t - p_c + sqrt((h_t - p_t) * (h_t - p_t)
                              + (p_c - l_c) * (p_c - l_c)), 6) AS uplift_hi
FROM wide
"""


@register("b_ev_uplift_newcombe", oracle=_UPLIFT_ORACLE, tags=("events", "stats", "uplift"))
def b_ev_uplift_newcombe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C253: treatment-vs-control conversion uplift with Newcombe's
    hybrid score interval — the difference-of-rates CI built from the
    two arms' Wilson bounds (C247's machinery composed into C145's
    experiment design).  The z-test says WHETHER the arms differ;
    this says BY HOW MUCH, with an interval that survives extreme
    rates.  Exact (n, c) per arm, one fixed correctly-rounded double
    composition, rounded once.

    Scale shape: one user-keyed conversion rollup, a 2-row group,
    scalar math."""
    e = load_table(spark, sf_dir, "events")
    arm = e.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1)
            .otherwise(0)
        ).alias("conv")
    ).select((F.col("user_id") % 2).alias("grp"), "conv")
    s = arm.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("conv").cast("bigint").alias("c")
    )
    p = F.col("c").cast("double") / F.col("n")
    z2 = 1.96 * 1.96
    center = p + z2 / (2 * F.col("n"))
    half = 1.96 * F.sqrt(p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n")))
    denom = 1 + z2 / F.col("n")
    wil = s.select(
        "grp", "n", "c",
        p.alias("p"),
        ((center - half) / denom).alias("lo"),
        ((center + half) / denom).alias("hi"),
    )
    wide = wil.agg(
        *[
            F.max(F.when(F.col("grp") == g, F.col(col))).alias(f"{col}_{tag}")
            for g, tag in ((1, "t"), (0, "c"))
            for col in ("n", "c", "p", "lo", "hi")
        ]
    )
    d = F.col("p_t") - F.col("p_c")
    lo_half = F.sqrt(
        (F.col("p_t") - F.col("lo_t")) * (F.col("p_t") - F.col("lo_t"))
        + (F.col("hi_c") - F.col("p_c")) * (F.col("hi_c") - F.col("p_c"))
    )
    hi_half = F.sqrt(
        (F.col("hi_t") - F.col("p_t")) * (F.col("hi_t") - F.col("p_t"))
        + (F.col("p_c") - F.col("lo_c")) * (F.col("p_c") - F.col("lo_c"))
    )
    return wide.select(
        F.col("n_t").cast("bigint").alias("n_t"),
        F.col("c_t").cast("bigint").alias("c_t"),
        F.col("n_c").cast("bigint").alias("n_c"),
        F.col("c_c").cast("bigint").alias("c_c"),
        F.round(d, 6).alias("uplift"),
        F.round(d - lo_half, 6).alias("uplift_lo"),
        F.round(d + hi_half, 6).alias("uplift_hi"),
    )
