"""Data-quality profiling (dbt-test / Deequ-style constraint checks).

One operator emits a fixed suite of checks as (check, n_checked,
n_violations, passed) rows: key uniqueness, referential integrity,
null/empty rates, and value-domain constraints. Scale shape: every
check is a single aggregate or anti-join-count over one table — each
is one shuffle, the union of ~6 one-row frames is free, and nothing
ever leaves the executors until the final 6-row result.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents, csum
from stellarsql_spark.registry import register

_PROFILE_ORACLE = """
SELECT 'customer_pk_unique' AS check_name,
       COUNT(*) AS n_checked,
       COUNT(*) - COUNT(DISTINCT c_custkey) AS n_violations,
       COUNT(*) = COUNT(DISTINCT c_custkey) AS passed
FROM customer
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
UNION ALL
SELECT 'lineitem_orderkey_fk',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
UNION ALL
SELECT 'documents_text_nonempty',
       COUNT(*),
       COUNT(CASE WHEN text IS NULL OR text = '' THEN 1 END),
       COUNT(CASE WHEN text IS NULL OR text = '' THEN 1 END) = 0
FROM documents
UNION ALL
SELECT 'orders_price_positive',
       COUNT(*),
       COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END),
       COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) = 0
FROM orders
UNION ALL
SELECT 'events_user_notnull',
       COUNT(*),
       COUNT(CASE WHEN user_id IS NULL THEN 1 END),
       COUNT(CASE WHEN user_id IS NULL THEN 1 END) = 0
FROM events
"""


def _check_row(name: str, checked, violations) -> DataFrame:
    return checked.select(
        F.lit(name).alias("check_name"),
        F.col("n").alias("n_checked"),
        violations.alias("n_violations"),
        (violations == 0).alias("passed"),
    )


@register("b_quality_profile", oracle=_PROFILE_ORACLE, tags=("quality", "profiling", "agg"))
def b_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check suite over the corpus: PK uniqueness (count vs
    distinct), FK integrity (left-anti count — never a full join
    materialization), null/empty and domain checks (conditional
    counts). Every check is algebraic, so partial aggregation keeps
    the shuffle payload at one row per partition."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "events")

    pk = c.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.countDistinct("c_custkey")).alias("v"),
    )
    fk_o = o.agg(F.count("*").alias("n")).crossJoin(
        o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(F.count("*").alias("v"))
    )
    fk_li = li.agg(F.count("*").alias("n")).crossJoin(
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(F.count("*").alias("v"))
    )
    txt = d.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("text").isNull() | (F.col("text") == ""), 1)).alias("v"),
    )
    price = o.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v"),
    )
    usr = e.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("v"),
    )
    rows = [
        _check_row("customer_pk_unique", pk, F.col("v")),
        _check_row("orders_custkey_fk", fk_o, F.col("v")),
        _check_row("lineitem_orderkey_fk", fk_li, F.col("v")),
        _check_row("documents_text_nonempty", txt, F.col("v")),
        _check_row("orders_price_positive", price, F.col("v")),
        _check_row("events_user_notnull", usr, F.col("v")),
    ]
    return reduce(DataFrame.unionAll, rows)


_OBSERVE_ORACLE = """
SELECT COUNT(*) AS rows_seen,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
       CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) AS total_price
FROM orders
"""


@register("b_quality_observe", oracle=_OBSERVE_ORACLE, tags=("quality", "observe", "eager"))
def b_quality_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline metrics via the Observation API: named aggregate
    metrics ride ALONG a real write/consume pass (here: a noop-sink
    write over the observed frame) and are harvested from the
    listener bus after the action — zero extra scans, the production
    pattern for data-quality counters on every batch a pipeline
    ships. The returned one-row frame carries the observed metrics;
    the oracle recomputes them relationally. Cents-exact money total
    (see functions.exact).

    EAGER-ACTION CONTRACT (tag "eager", shared with the streaming
    drain keys): the Observation pattern is definitionally
    action-then-harvest, so the full scan executes at
    DataFrame-BUILD time and the returned plan is a one-row literal.
    Every ``queries()`` build pays the pass, and timing the returned
    frame measures the literal, not the scan. This contract is
    CONSUMED by the harness: ``bench.prepare`` checks the "eager"
    tag and times the builder call itself for tagged keys, so adding
    this key to any bench list measures the real pass, never the
    literal."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("orders_quality")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("nonpositive_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        csum("o_totalprice").alias("total_price"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the consuming action
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_seen"], m["nonpositive_price"], m["bad_status"], m["total_price"])],
        schema="rows_seen bigint, nonpositive_price bigint, bad_status bigint, total_price double",
    )


# --- declarative expectations suite ----------------------------------

_EXPECT_ORACLE = """
SELECT 'positive_price' AS rule,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'orderdate_not_null', CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'status_in_domain',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'custkey_references_customer', COUNT(*)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
UNION ALL
SELECT 'orderkey_unique', COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
"""

_EXPECT_WRAPPED = f"""
SELECT rule, n_violations, n_violations = 0 AS ok
FROM ({_EXPECT_ORACLE}) t
"""


@register("b_quality_expectations", oracle=_EXPECT_WRAPPED, tags=("quality", "expectations"))
def b_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C134: declarative expectations suite (the Great-Expectations /
    dbt-test pattern): five rule families — value bound, NOT NULL,
    domain membership, referential integrity, key uniqueness — each
    reduced to a violation count + pass flag in one result table, the
    gate a production pipeline evaluates before publishing a batch.
    Scale shape: the three row-level rules fold into ONE shared scan
    (a single aggregate emits all three counters); the referential
    rule is a broadcast-able anti-join on the key; uniqueness is one
    count-distinct. Nothing is collected driver-side — the suite
    composes as a 5-row DataFrame a foreachBatch hook can write
    next to every shard."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    row_rules = o.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("positive_price"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias("orderdate_not_null"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("status_in_domain"),
    ).selectExpr(
        "stack(3, 'positive_price', positive_price, "
        "'orderdate_not_null', orderdate_not_null, "
        "'status_in_domain', status_in_domain) AS (rule, n_violations)"
    )
    orphans = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("custkey_references_customer").alias("rule"), "n_violations")
    )
    unique = o.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("n_violations")
    ).select(F.lit("orderkey_unique").alias("rule"), "n_violations")
    suite = row_rules.unionByName(orphans).unionByName(unique)
    return suite.select("rule", "n_violations", (F.col("n_violations") == 0).alias("ok"))


# --- Population-stability drift between two corpus eras (C161) -------

# PSI = sum_b (p_cur - p_ref) * ln(p_cur / p_ref) over fixed-width
# o_totalprice bins, reference era = orders before 1998-01-01.  Bin
# counts and totals are exact integers; the per-bin term is ONE
# identical double expression on those integers in both engines,
# scaled to integer billionths at the term boundary, so the PSI total
# is an exact long sum (the scaled-integer-sum convention of
# functions/exact.py).  Bins empty on either side are excluded from
# the sum (the standard PSI smoothing choice; asserted identically in
# both engines by the n_ref > 0 AND n_cur > 0 filter).
_DRIFT_CUT = "1998-01-01"
_DRIFT_BIN = 50_000.0
_DRIFT_NBINS = 10

_DRIFT_ORACLE = f"""
WITH binned AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_CUT}' THEN 1 ELSE 0 END AS is_ref,
         LEAST({_DRIFT_NBINS - 1}, CAST(FLOOR(o_totalprice / {_DRIFT_BIN}) AS BIGINT)) AS bucket
  FROM orders
),
counts AS (
  SELECT bucket,
         CAST(SUM(is_ref) AS BIGINT) AS n_ref,
         CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
  FROM binned GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref, CAST(SUM(n_cur) AS BIGINT) AS t_cur
  FROM counts
),
terms AS (
  SELECT bucket, n_ref, n_cur,
         CAST(ROUND(1000000000 * (CAST(n_cur AS DOUBLE) / t_cur - CAST(n_ref AS DOUBLE) / t_ref)
              * ln((CAST(n_cur AS DOUBLE) / t_cur) / (CAST(n_ref AS DOUBLE) / t_ref)))
              AS BIGINT) AS term_b
  FROM counts CROSS JOIN tot
  WHERE n_ref > 0 AND n_cur > 0
)
SELECT bucket, n_ref, n_cur, term_b,
       CAST(SUM(term_b) OVER () AS BIGINT) AS psi_b
FROM terms
"""


@register("b_quality_drift", oracle=_DRIFT_ORACLE, tags=("quality", "drift"))
def b_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C161: population-stability-index (PSI) drift check between a
    reference era and the current era of the orders feed — the
    monitoring primitive a production pipeline runs on every batch to
    detect distribution shift before it poisons training data
    (PSI > 0.2 is the conventional "investigate" threshold).

    100 TB shape: one map-side bin assignment (two comparisons per
    row, no shuffle until the {_DRIFT_NBINS}-bucket count rollup),
    then all PSI arithmetic happens on a {_DRIFT_NBINS}-row frame —
    the statistic's cost is bin-count-sized, not corpus-sized, and
    composes with partition pruning when eras live in separate
    partitions.  Exactness: see _DRIFT_ORACLE's convention note."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.when(F.col("o_orderdate") < F.lit(_DRIFT_CUT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("is_ref"),
        F.least(
            F.lit(_DRIFT_NBINS - 1),
            F.floor(F.col("o_totalprice") / _DRIFT_BIN).cast("long"),
        ).alias("bucket"),
    )
    counts = binned.groupBy("bucket").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
    term_b = F.round(1_000_000_000 * (p_cur - p_ref) * F.log(p_cur / p_ref)).cast("long")
    terms = (
        counts.crossJoin(F.broadcast(tot))
        .where((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select("bucket", "n_ref", "n_cur", term_b.alias("term_b"))
    )
    return terms.select(
        "bucket",
        "n_ref",
        "n_cur",
        "term_b",
        F.sum("term_b").over(Window.partitionBy()).cast("long").alias("psi_b"),
    )


# --- Two-sample Kolmogorov-Smirnov drift (C170) ----------------------

# Unbinned companion to the PSI check above: D = max_v |F_a(v) −
# F_b(v)| over the pooled support.  ECDF differences are kept as the
# cross-multiplied integer |cum_a·n_b − cum_b·n_a| (exact longs; the
# division by n_a·n_b happens once at display), so the max and the
# top-gap ranking compare integers — no float ECDF ever exists.
_KS_CUT = "1998-01-01"
_KS_TOPN = 10

_KS_ORACLE = f"""
WITH pts AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderdate < TIMESTAMP '{_KS_CUT}' THEN 1 ELSE 0 END AS in_a
  FROM orders
),
per_v AS (
  SELECT v, CAST(SUM(in_a) AS BIGINT) AS ca, CAST(SUM(1 - in_a) AS BIGINT) AS cb
  FROM pts GROUP BY v
),
cum AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM per_v
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM per_v
),
gaps AS (
  SELECT v, cum_a, cum_b, n_a, n_b,
         CAST(ABS(cum_a * n_b - cum_b * n_a) AS BIGINT) AS gap_num
  FROM cum CROSS JOIN tot
)
SELECT v, cum_a, cum_b, gap_num,
       ROUND(CAST(MAX(gap_num) OVER () AS DOUBLE) / (n_a * n_b), 6) AS ks,
       CAST(rn AS INT) AS rn
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY gap_num DESC, v) AS rn FROM gaps
)
WHERE rn <= {_KS_TOPN}
"""


@register("b_quality_ks", oracle=_KS_ORACLE, tags=("quality", "drift", "ks"))
def b_quality_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C170: two-sample Kolmogorov-Smirnov drift between order eras —
    the unbinned companion to b_quality_drift: PSI sees only the
    10-bucket histogram; KS scans the full pooled support and finds
    WHERE the distributions diverge most (the top-{_KS_TOPN} gap
    points are the actionable output, the global D the alarm value).

    Exactness: see _KS_ORACLE's note — every compared quantity is an
    exact long, the one ROUND is display-only. Scale shape: one
    (value)-keyed count rollup; the ECDF prefix runs through the
    SHIPPED two-pass range-partitioned form (functions/prefix.py —
    v is unique after the rollup); the top-N gap pick is a
    sort+limit, so no data-sized single-partition window remains in
    the plan.  Headroom bound: gap_num = |cum_a·n_b − cum_b·n_a| is
    an OUTPUT column, so it stays BIGINT — exact while
    n_a·n_b < 2^63 (~3e9 rows per era); past that the gap statistic
    itself outgrows int64 and must move to DECIMAL on both engines —
    a contract change, documented rather than silently widened."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderdate") < F.lit(_KS_CUT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    per_v = pts.groupBy("v").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    from stellarsql_spark.functions.prefix import ordered_running

    cum = ordered_running(
        per_v,
        order=[F.col("v")],
        sums={"cum_a": F.col("ca"), "cum_b": F.col("cb")},
    ).select(
        "v",
        F.col("cum_a").cast("bigint").alias("cum_a"),
        F.col("cum_b").cast("bigint").alias("cum_b"),
    )
    tot = per_v.agg(
        F.sum("ca").cast("bigint").alias("n_a"), F.sum("cb").cast("bigint").alias("n_b")
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "cum_a",
        "cum_b",
        "n_a",
        "n_b",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        .cast("bigint")
        .alias("gap_num"),
    )
    # top-N selection is a TakeOrderedAndProject (sort+limit), not a
    # data-sized global rank window; the rank/global-max windows then
    # run over the N surviving rows only.  The global max gap is the
    # top-1 of this order, so MAX over the N-row set IS the global D.
    topn = gaps.orderBy(F.col("gap_num").desc(), "v").limit(_KS_TOPN)
    wrank = Window.orderBy(F.col("gap_num").desc(), "v")
    wall = Window.partitionBy()
    return (
        topn.withColumn("rn", F.row_number().over(wrank))
        .withColumn(
            "ks",
            F.round(
                F.max("gap_num").over(wall).cast("double") / (F.col("n_a") * F.col("n_b")),
                6,
            ),
        )
        .select("v", "cum_a", "cum_b", "gap_num", "ks", "rn")
    )


# --- Benford first-digit audit (C173) --------------------------------

# First significant digits of naturally-occurring amounts follow
# P(d) = log10(1 + 1/d); a chi-square against that law is a standard
# fraud / synthetic-data audit. The first digit is the first char of
# the exact-cents integer's decimal string (integer-to-string is
# engine-identical; a power(10, len-1) quotient was tried first and
# hit DuckDB's double '//' NOT flooring + round-on-CAST-to-BIGINT);
# each chi-square term is scaled to integer billionths on identical
# double inputs, so the statistic is an exact long sum.
_BENFORD_ORACLE = """
WITH cents AS (
  SELECT CAST(ROUND(100 * o_totalprice) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0
),
digits AS (
  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM cents
),
obs AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY d),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
terms AS (
  SELECT d, n_obs,
         CAST(ROUND(1000000 * (CAST(n_obs AS DOUBLE) / n)) AS BIGINT) AS obs_m,
         CAST(ROUND(1000000 * log10(1 + 1.0 / d)) AS BIGINT) AS exp_m,
         CAST(ROUND(1000000000 * (CAST(n_obs AS DOUBLE) / n - log10(1 + 1.0 / d))
              * (CAST(n_obs AS DOUBLE) / n - log10(1 + 1.0 / d))
              / log10(1 + 1.0 / d)) AS BIGINT) AS chi_b
  FROM obs CROSS JOIN tot
)
SELECT d, n_obs, obs_m, exp_m, chi_b,
       CAST(SUM(chi_b) OVER () AS BIGINT) AS chi2_b
FROM terms
"""


@register("b_quality_benford", oracle=_BENFORD_ORACLE, tags=("quality", "benford", "audit"))
def b_quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C173: Benford's-law first-digit audit of order totals — the
    forensic-accounting screen for fabricated or truncated amounts
    (synthetic uniform data fails it loudly, which is itself the
    interesting measurement on this corpus). Completes the drift
    trio: PSI (binned), KS (unbinned), Benford (digit-structure).

    Exactness: see _BENFORD_ORACLE's note. Scale shape: digit
    extraction is map-side integer math; the whole statistic reduces
    through a 9-row digit rollup — corpus-size-independent beyond
    the one count shuffle, and the map-side partial aggregation
    carries 9 counters per task."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    c = cents("o_totalprice")
    digits = o.select(
        F.substring(c.cast("string"), 1, 1).cast("bigint").alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").cast("bigint").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    p_obs = F.col("n_obs").cast("double") / F.col("n")
    p_exp = F.log10(1 + 1.0 / F.col("d"))
    terms = obs.crossJoin(F.broadcast(tot)).select(
        "d",
        "n_obs",
        F.round(1_000_000 * p_obs).cast("bigint").alias("obs_m"),
        F.round(1_000_000 * p_exp).cast("bigint").alias("exp_m"),
        F.round(1_000_000_000 * (p_obs - p_exp) * (p_obs - p_exp) / p_exp)
        .cast("bigint")
        .alias("chi_b"),
    )
    return terms.select(
        "*", F.sum("chi_b").over(Window.partitionBy()).cast("bigint").alias("chi2_b")
    )


# --- Exact ROC-AUC via rank statistics (C174) -------------------------

# AUC equals the Mann-Whitney U statistic normalized by n_pos*n_neg;
# with ties, U = R_pos - n_pos(n_pos+1)/2 where R_pos sums the
# AVERAGE rank of each positive.  Everything stays in exact longs by
# carrying 2x the rank sum: a tie group occupying ranks lo..hi
# contributes pos_cnt*(lo+hi) to 2*R_pos, and lo+hi is an integer
# even when the average rank is a half.  The one division (the final
# normalization) runs on identical exact longs in both engines.
_AUC_ORACLE = """
WITH scored AS (
  SELECT CAST(ROUND(100 * o_totalprice) AS BIGINT) AS score,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pos
  FROM orders
),
grp AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(pos) AS BIGINT) AS pos_cnt
  FROM scored GROUP BY score
),
ranked AS (
  SELECT *, CAST(SUM(cnt) OVER (ORDER BY score) AS BIGINT) AS hi
  FROM grp
),
tot AS (
  SELECT CAST(SUM(pos_cnt) AS BIGINT) AS n_pos,
         CAST(SUM(cnt - pos_cnt) AS BIGINT) AS n_neg,
         CAST(SUM(pos_cnt * (2 * hi - cnt + 1)) AS BIGINT) AS r2
  FROM ranked
)
SELECT n_pos, n_neg,
       CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       CAST(ROUND(1000000 * CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / (2 * n_pos * n_neg)) AS BIGINT) AS auc_m
FROM tot
"""


@register("b_ev_auc", oracle=_AUC_ORACLE, tags=("quality", "metric", "auc"))
def b_ev_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C174: exact ROC-AUC of order total as a predictor of urgent
    priority — the Mann-Whitney rank-sum form with the textbook tie
    correction (average ranks), kept in exact integer arithmetic (see
    _AUC_ORACLE's note).  This is the model-evaluation primitive every
    classifier-quality pipeline needs; the sibling ranking metric is
    NDCG (b_llm_ndcg).

    Scale shape: one groupBy collapses the corpus to |distinct score|
    rows (exact cents); the prefix-rank runs through the SHIPPED
    two-pass range-partitioned form (functions/prefix.py — score is
    unique after the rollup), so no data-sized single-partition
    window remains; the statistic reduces to one row.  Headroom
    bound: u2/r2 are OUTPUT columns, so they stay BIGINT — exact
    while rank sums < 2^63 (~2e9 rows); past that the U statistic
    itself outgrows int64 and must move to DECIMAL on both engines —
    a contract change, documented rather than silently widened."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        cents("o_totalprice").alias("score"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("pos"),
    )
    grp = scored.groupBy("score").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("pos_cnt"),
    )
    from stellarsql_spark.functions.prefix import ordered_running

    ranked = ordered_running(
        grp, order=[F.col("score")], sums={"hi": F.col("cnt")}
    ).withColumn("hi", F.col("hi").cast("bigint"))
    tot = ranked.agg(
        F.sum("pos_cnt").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos_cnt")).cast("bigint").alias("n_neg"),
        F.sum(F.col("pos_cnt") * (2 * F.col("hi") - F.col("cnt") + 1))
        .cast("bigint")
        .alias("r2"),
    )
    u2 = (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("bigint")
    return tot.select(
        "n_pos",
        "n_neg",
        u2.alias("u2"),
        F.round(1_000_000 * u2.cast("double") / (2 * F.col("n_pos") * F.col("n_neg")))
        .cast("bigint")
        .alias("auc_m"),
    )


# --- Chi-square independence test (C180) ------------------------------

# Contingency-table independence between two categoricals (order
# priority × order status) — the categorical drift / association
# screen that complements Benford (goodness-of-fit to a fixed law)
# and KS (continuous distributions).  Expected counts E = row_tot *
# col_tot / n stay EXACT as the cross-multiplied long numerator
# (n*obs - row_tot*col_tot); each cell's chi term
# (obs - E)^2 / E = (n*obs - rt*ct)^2 / (n * rt * ct) is computed as
# one division of exact longs, scaled to integer millionths.
_CHI2_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
),
margins AS (
  SELECT *,
         CAST(SUM(obs) OVER (PARTITION BY pri) AS BIGINT) AS row_tot,
         CAST(SUM(obs) OVER (PARTITION BY st) AS BIGINT) AS col_tot,
         CAST(SUM(obs) OVER () AS BIGINT) AS n
  FROM cells
),
terms AS (
  SELECT pri, st, obs, row_tot, col_tot,
         CAST(ROUND(1000000 * CAST(n * obs - row_tot * col_tot AS DOUBLE)
              * (n * obs - row_tot * col_tot)
              / (CAST(n AS DOUBLE) * n * row_tot * col_tot)) AS BIGINT) AS chi_m
  FROM margins
)
SELECT pri, st, obs, row_tot, col_tot, chi_m,
       CAST(SUM(chi_m) OVER () AS BIGINT) AS chi2_m
FROM terms
"""


@register("b_agg_chi2_indep", oracle=_CHI2_ORACLE, tags=("quality", "chi2", "independence"))
def b_agg_chi2_indep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C180: chi-square test of independence on the priority × status
    contingency table.  The categorical-association screen (are two
    dimensions related?) — for feature selection, segment drift, and
    data-quality checks on supposedly-independent columns.

    Exactness: see _CHI2_ORACLE — expected counts never materialize
    as floats; the deviation is the cross-multiplied exact long
    n*obs - rt*ct and each term is one division.  Division order is
    (double(num) * num) / (double(n)*n*rt*ct) in BOTH engines —
    IEEE evaluation-order-sensitive, so the trees match exactly.
    Scale shape: one cell rollup (the 15-cell table) is the only
    data-sized shuffle; margins are windows over 15 rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    ).agg(F.count("*").cast("bigint").alias("obs"))
    m = cells.select(
        "*",
        F.sum("obs").over(Window.partitionBy("pri")).cast("bigint").alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("st")).cast("bigint").alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    dev = F.col("n") * F.col("obs") - F.col("row_tot") * F.col("col_tot")
    chi_m = F.round(
        1_000_000
        * dev.cast("double")
        * dev
        / (
            F.col("n").cast("double")
            * F.col("n")
            * F.col("row_tot")
            * F.col("col_tot")
        )
    ).cast("bigint")
    terms = m.select("pri", "st", "obs", "row_tot", "col_tot", chi_m.alias("chi_m"))
    return terms.select(
        "*", F.sum("chi_m").over(Window.partitionBy()).cast("bigint").alias("chi2_m")
    )


# --- Referential-integrity audit (C234) -----------------------------------------------

# The FK health check a lakehouse without enforced constraints needs
# nightly: for every declared child->parent relationship, how many
# child rows / distinct keys reference a missing parent.  Runs as
# key-rollup-then-anti-join so the parent side only ever sees
# DISTINCT child keys — at 100 TB the orphan check shuffles keys, not
# fact rows.
_RI_PAIRS = (
    ("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
)

_RI_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{rel}' AS rel,
       (SELECT COUNT(*) FROM {child}) AS n_child_rows,
       (SELECT COUNT(DISTINCT {ck}) FROM {child}) AS n_distinct_keys,
       (SELECT COUNT(*) FROM
          (SELECT DISTINCT {ck} AS k FROM {child}) c
          LEFT JOIN {parent} p ON c.k = p.{pk} WHERE p.{pk} IS NULL)
           AS n_orphan_keys,
       (SELECT COUNT(*) FROM {child} c
          LEFT JOIN {parent} p ON c.{ck} = p.{pk} WHERE p.{pk} IS NULL)
           AS n_orphan_rows"""
    for rel, child, ck, parent, pk in _RI_PAIRS
) + "\nORDER BY rel"


@register("b_quality_ref_integrity", oracle=_RI_ORACLE, tags=("quality", "integrity", "fk"))
def b_quality_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C234: referential-integrity audit over the schema's seven
    declared FK relationships — child row/key counts and orphan
    key/row counts per edge.  Parquet lakes don't enforce FKs; this
    is the nightly health report that notices when they break
    (b_quality_profile spot-checks two of these edges pass/fail;
    this key covers all seven with key- AND row-granular orphan
    counts, the report you need to actually fix a break).

    Scale shape: each relationship is one distinct-key rollup on the
    child (map-side partials), one anti-join against the parent key
    column, and the orphan ROW count reuses the child rollup's
    per-key counts — fact rows never shuffle twice."""
    out = None
    for rel, child, ck, parent, pk in _RI_PAIRS:
        ch = load_table(spark, sf_dir, child)
        pa = load_table(spark, sf_dir, parent).select(F.col(pk).alias("pkey"))
        keys = ch.groupBy(F.col(ck).alias("k")).agg(F.count("*").alias("cnt"))
        joined = keys.join(pa, keys.k == pa.pkey, "left")
        row = joined.agg(
            F.lit(rel).alias("rel"),
            F.sum("cnt").cast("bigint").alias("n_child_rows"),
            F.count("*").cast("bigint").alias("n_distinct_keys"),
            F.sum(F.when(F.col("pkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphan_keys"),
            F.sum(F.when(F.col("pkey").isNull(), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_orphan_rows"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --- Primary-key uniqueness audit (C237) ----------------------------------------------

# The PK half of the C234 FK audit: for every table's declared key,
# how many key values are duplicated and how many extra rows they
# carry.  Same lake reality — parquet enforces nothing — same
# rollup-only scale shape (the key column shuffles, counted
# map-side; never whole rows).
_PK_DECLS = (
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
)

_PK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{t}.{k}' AS pk,
       (SELECT COUNT(*) FROM {t}) AS n_rows,
       (SELECT COUNT(*) FROM (SELECT {k} FROM {t} GROUP BY {k} HAVING COUNT(*) > 1))
           AS n_dup_keys,
       CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
          (SELECT COUNT(*) AS c FROM {t} GROUP BY {k} HAVING COUNT(*) > 1))
           AS BIGINT) AS n_extra_rows"""
    for t, k in _PK_DECLS
) + "\nORDER BY pk"


@register("b_quality_pk_uniqueness", oracle=_PK_ORACLE, tags=("quality", "integrity", "pk"))
def b_quality_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C237: primary-key uniqueness audit over eight declared keys —
    duplicate key values and the extra rows they carry, per table.
    Completes the constraint-audit story: a_constraint_enforce (NOT
    NULL/CHECK on insert), b_quality_ref_integrity (FK edges), this
    key (PK uniqueness) — the three invariants a lakehouse must check
    because parquet never will.

    Scale shape: per table one key rollup with map-side partials into
    a HAVING filter; whole rows never shuffle."""
    out = None
    for t, k in _PK_DECLS:
        tb = load_table(spark, sf_dir, t)
        dup = (
            tb.groupBy(k)
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > 1)
            .agg(
                F.count("*").cast("bigint").alias("n_dup_keys"),
                F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
                .cast("bigint")
                .alias("n_extra_rows"),
            )
        )
        n = tb.agg(F.count("*").cast("bigint").alias("n_rows"))
        row = n.crossJoin(F.broadcast(dup)).select(
            F.lit(f"{t}.{k}").alias("pk"), "n_rows", "n_dup_keys", "n_extra_rows"
        )
        out = row if out is None else out.unionAll(row)
    return out


# --- Sequence-gap audit (C238) ----------------------------------------------------------

# "Which invoice numbers are missing?" — the key-sequence audit every
# finance/ops pipeline runs, pointed at the FINISHED-order keys (the
# class whose numbering a books-closing process expects contiguous;
# the corpus's full key space is dense, the status subset has
# thousands of real holes).  One ordered window over DISTINCT keys;
# the top-5 gaps ship with whole-sequence totals as window aggregates
# so it stays one query.
_SEQ_GAPS_ORACLE = """
WITH ks AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
gaps AS (
  SELECT k + 1 AS gap_lo, nxt - 1 AS gap_hi, nxt - k - 1 AS gap_len
  FROM (SELECT k, LEAD(k) OVER (ORDER BY k) AS nxt FROM ks)
  WHERE nxt - k > 1
)
SELECT gap_lo, gap_hi, CAST(gap_len AS BIGINT) AS gap_len,
       CAST(COUNT(*) OVER () AS BIGINT) AS n_gaps,
       CAST(SUM(gap_len) OVER () AS BIGINT) AS total_missing
FROM gaps
ORDER BY gap_len DESC, gap_lo
LIMIT 5
"""


@register("b_quality_sequence_gaps", oracle=_SEQ_GAPS_ORACLE, tags=("quality", "sequence", "gaps"))
def b_quality_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C238: key-sequence gap audit — the largest 5 holes in the
    FINISHED-order key sequence plus whole-sequence gap totals (count
    and missing-key sum) as window aggregates.  The
    missing-invoice-number query: the status subset is the class a
    books-closing process expects contiguous, and it carries
    thousands of real holes in this corpus (the full key space is
    dense — auditing a filtered class is also the realistic shape:
    "every SHIPPED order must have a posted invoice").

    Scale shape: DISTINCT-key rollup (map-side partials; the key
    column shuffles, not rows), one ordered lag window over keys, a
    tiny gap list.  At 100 TB the ordered window over |keys| is the
    cost — range-partition the key axis and lag within partitions,
    stitching the per-partition boundary pairs (the standard
    distributed-lag move; the single-series form here is the
    contract)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    ks = (
        o.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    w = Window.orderBy("k")
    gaps = (
        ks.select("k", F.lead("k").over(w).alias("nxt"))
        .where(F.col("nxt") - F.col("k") > 1)
        .select(
            (F.col("k") + 1).alias("gap_lo"),
            (F.col("nxt") - 1).alias("gap_hi"),
            (F.col("nxt") - F.col("k") - 1).cast("bigint").alias("gap_len"),
        )
    )
    wall = Window.partitionBy()
    return (
        gaps.select(
            "gap_lo",
            "gap_hi",
            "gap_len",
            F.count("*").over(wall).cast("bigint").alias("n_gaps"),
            F.sum("gap_len").over(wall).cast("bigint").alias("total_missing"),
        )
        .orderBy(F.desc("gap_len"), F.asc("gap_lo"))
        .limit(5)
    )


# --- Data freshness audit (C250) -------------------------------------------------------------

# The on-call question: "is this table stale?"  Per time-bearing
# table: newest timestamp, lag (whole days) behind the freshest table
# in the lake, and the last-7-days row count (the ingest-rate
# canary).  Pure epoch arithmetic — exact integers.
_FRESHNESS_ORACLE = """
WITH m AS (
  SELECT 'events' AS tbl, MAX(epoch_us(ts)) AS t_max,
         CAST(COUNT(*) AS BIGINT) AS n_rows FROM events
  UNION ALL
  SELECT 'orders', MAX(epoch_us(o_orderdate)), COUNT(*) FROM orders
  UNION ALL
  SELECT 'lineitem', MAX(epoch_us(l_shipdate)), COUNT(*) FROM lineitem
),
w AS (SELECT MAX(t_max) AS wm FROM m),
recent AS (
  SELECT 'events' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_last7
  FROM events, w WHERE epoch_us(ts) > wm - 7 * 86400000000
  UNION ALL
  SELECT 'orders', COUNT(*) FROM orders, w
  WHERE epoch_us(o_orderdate) > wm - 7 * 86400000000
  UNION ALL
  SELECT 'lineitem', COUNT(*) FROM lineitem, w
  WHERE epoch_us(l_shipdate) > wm - 7 * 86400000000
)
SELECT m.tbl, m.n_rows,
       m.t_max AS t_max_us,
       CAST((w.wm - m.t_max) // 86400000000 AS BIGINT) AS lag_days,
       r.n_last7
FROM m CROSS JOIN w JOIN recent r ON m.tbl = r.tbl
ORDER BY m.tbl
"""


@register("b_quality_freshness", oracle=_FRESHNESS_ORACLE, tags=("quality", "freshness"))
def b_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C250: freshness audit — newest timestamp per time-bearing
    table, whole-day lag behind the lake's watermark (the freshest
    table), and the trailing-7-day row count that catches a stalled
    ingest even when the max timestamp looks right.  Completes the
    quality family's operational trio: constraints (C234/C237),
    content (C39/C134), now recency.

    Scale shape: per table one MAX + one filtered COUNT with map-side
    partials; the watermark is a 1-row broadcast."""
    specs = (
        ("events", "ts"),
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
    )
    per = []
    for tbl, col in specs:
        t = load_table(spark, sf_dir, tbl)
        us = F.unix_micros(F.col(col).cast("timestamp"))
        per.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.max(us).alias("t_max_us"),
            )
        )
    m = per[0].unionAll(per[1]).unionAll(per[2])
    w = m.agg(F.max("t_max_us").alias("wm"))
    recent = []
    for tbl, col in specs:
        t = load_table(spark, sf_dir, tbl)
        us = F.unix_micros(F.col(col).cast("timestamp"))
        recent.append(
            t.crossJoin(F.broadcast(w))
            .where(us > F.col("wm") - 7 * 86_400_000_000)
            .agg(F.lit(tbl).alias("tbl"), F.count("*").cast("bigint").alias("n_last7"))
        )
    r = recent[0].unionAll(recent[1]).unionAll(recent[2])
    return (
        m.crossJoin(F.broadcast(w))
        .join(r, "tbl")
        .select(
            "tbl",
            "n_rows",
            "t_max_us",
            F.expr("(wm - t_max_us) div 86400000000").cast("bigint").alias("lag_days"),
            "n_last7",
        )
    )


# --- Exact key-distribution skew audit (C261) --------------------------------

# The skew-join family (operators/skew.py) DETECTS hot keys with a
# sampled pre-pass; this key is the exact audit a platform runs to
# DECIDE which join strategy a table needs: distinct-key count, max
# single-key share, top-8-key share, and the Gini coefficient of the
# key-count distribution (0 = uniform, →1 = one key owns the table).
# Gini needs every key's global ascending rank — a data-sized global
# order — so the rank runs through the shipped two-pass prefix
# (functions/prefix.py), never a one-task window; the rank-weighted
# sum Σ i·n_i rides DECIMAL(38,0)/HUGEINT (it crosses 2^63 once
# |keys|·|rows| passes ~1e19, which a 100 TB fact table does).  Both
# share fractions are one identical double expression over exact
# integer carriers, ROUND→BIGINT millionths at the boundary.
_KEYSKEW_ORACLE = """
WITH k AS (
  SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(MAX(n) AS BIGINT) AS max_n
  FROM k
),
t8 AS (
  SELECT CAST(SUM(n) AS BIGINT) AS top8_n
  FROM (SELECT n FROM k ORDER BY n DESC, key LIMIT 8) s
),
r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n, key) AS i FROM k),
g AS (SELECT SUM(CAST(i AS HUGEINT) * n) AS s_in FROM r)
SELECT n_keys, n_rows, max_n,
       CAST(ROUND(1000000.0 * max_n / n_rows) AS BIGINT) AS max_share_m,
       CAST(ROUND(1000000.0 * top8_n / n_rows) AS BIGINT) AS top8_share_m,
       CAST(ROUND(1000000.0 * (
            2.0 * CAST(s_in AS DOUBLE)
            / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
            - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE)))
            AS BIGINT) AS gini_m
FROM tot, t8, g
"""


@register("b_quality_keyskew", oracle=_KEYSKEW_ORACLE, tags=("quality", "skew", "audit"))
def b_quality_keyskew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C261: exact join-key skew audit of lineitem.l_orderkey — see
    the block comment above.  Plan shape: one key-count shuffle
    (|keys| rows), the two-pass global rank over the count frame, a
    top-8 TakeOrderedAndProject, three broadcast 1-row reduces."""
    from stellarsql_spark.functions.prefix import ordered_running

    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = k.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_n"),
    )
    t8 = (
        k.orderBy(F.desc("n"), "key")
        .limit(8)
        .agg(F.sum("n").cast("bigint").alias("top8_n"))
    )
    ranked = ordered_running(
        k, [F.col("n"), F.col("key")], {}, row_number_as="i"
    )
    g = ranked.agg(
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("n"))
        .cast("decimal(38,0)")
        .alias("s_in")
    )
    nk = F.col("n_keys").cast("double")
    return (
        tot.crossJoin(F.broadcast(t8))
        .crossJoin(F.broadcast(g))
        .select(
            "n_keys",
            "n_rows",
            "max_n",
            F.round(F.lit(1000000.0) * F.col("max_n") / F.col("n_rows"))
            .cast("bigint")
            .alias("max_share_m"),
            F.round(F.lit(1000000.0) * F.col("top8_n") / F.col("n_rows"))
            .cast("bigint")
            .alias("top8_share_m"),
            F.round(
                F.lit(1000000.0)
                * (
                    F.lit(2.0)
                    * F.col("s_in").cast("double")
                    / (nk * F.col("n_rows").cast("double"))
                    - (nk + F.lit(1.0)) / nk
                )
            )
            .cast("bigint")
            .alias("gini_m"),
        )
    )
