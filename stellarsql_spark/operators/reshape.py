"""Pivot / unpivot / grouping sets / sampling (SURVEY.md §2 B21
extension + common OLAP reshaping).

Pivot compiles to a single aggregate with one conditional-agg column
per pivot value (values enumerated up front, so the plan is static —
the 100 TB-safe form; never pivot on unbounded cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table, register_views
from stellarsql_spark.functions.exact import cents, sql_dsum
from stellarsql_spark.registry import register

_PIVOT_ORACLE = f"""
SELECT c_mktsegment,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("b_pivot", oracle=_PIVOT_ORACLE, tags=("reshape", "pivot"))
def b_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue per segment × order status (explicit value list
    → static plan; oracle is the equivalent conditional aggregate)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"))
    )


_UNPIVOT_ORACLE = """
SELECT s_suppkey, 'acctbal' AS measure, s_acctbal AS val FROM supplier
UNION ALL
SELECT s_suppkey, 'nationkey' AS measure, CAST(s_nationkey AS DOUBLE) AS val FROM supplier
"""


@register("b_unpivot", oracle=_UNPIVOT_ORACLE, tags=("reshape", "unpivot"))
def b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide columns → (measure, value) rows."""
    s = load_table(spark, sf_dir, "supplier").withColumn(
        "nat_d", F.col("s_nationkey").cast("double")
    )
    return s.unpivot(
        ids=["s_suppkey"],
        values=["s_acctbal", "nat_d"],
        variableColumnName="measure",
        valueColumnName="val",
    ).withColumn(
        "measure",
        F.when(F.col("measure") == "s_acctbal", "acctbal").otherwise("nationkey"),
    )


_GSETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, {sql_dsum("o_totalprice")} AS rev
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("b_agg_grouping_sets", oracle=_GSETS_ORACLE, tags=("agg", "grouping_sets"))
def b_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL entry point."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_GSETS_ORACLE)


# Seed-keyed uniform draw: the first 8 md5 hex digits of (salt ‖ key)
# are a uniform u32; `u < fraction · 2³²` is a Bernoulli(fraction)
# trial that every engine computes identically.  Thresholds are
# floor(f · 2³²) so both sides compare the same integer.
_BERN_T = 429_496_729        # 0.10 · 2³²
_STRAT_T = {"F": 214_748_364, "O": 214_748_364, "P": 2_147_483_648}  # 0.05/0.05/0.5

_SAMPLE_SEEDED_ORACLE = f"""
WITH u AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(concat('0x', substring(md5('b42:' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS ub,
         CAST(concat('0x', substring(md5('s42:' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS us
  FROM orders
)
SELECT o_orderkey, o_orderstatus, 'bernoulli' AS method FROM u WHERE ub < {_BERN_T}
UNION ALL
SELECT o_orderkey, o_orderstatus, 'stratified' AS method FROM u
WHERE us < CASE o_orderstatus WHEN 'F' THEN {_STRAT_T["F"]}
                              WHEN 'O' THEN {_STRAT_T["O"]}
                              WHEN 'P' THEN {_STRAT_T["P"]} END
"""


@register("b_sample_seeded", oracle=_SAMPLE_SEEDED_ORACLE, tags=("sample", "deterministic"))
def b_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample + stratified per-status sample, drawn
    from a seed-keyed uniform HASH (md5 of seed-salt ‖ row key) rather
    than the engine RNG stream.

    This is deliberately NOT ``df.sample(seed=)``/``sampleBy``: the
    engine RNG is seeded per *split*, so the selected set silently
    changes whenever partitioning changes — a repartition, AQE
    coalesce, or a 1000-executor layout each yield a different
    "seeded" sample, which is a reproducibility bug at 100 TB, not a
    feature.  The hash draw keys each trial to the ROW (salt ``b42:``
    for the plain 10 % sample, ``s42:`` for the stratified one — the
    seed lives in the salt, independent draws per method), so the
    sample is identical across engines, partitionings, and re-runs —
    row-for-row auditable, with a full cross-engine hash oracle (this
    key was the registry's last rows-only-by-RNG entry).  Same
    statistical contract as before: uniform Bernoulli(f) per row;
    ``b_sample_bounds`` keeps the engine's native ``sampleBy`` under
    its 5σ binomial pin so the built-in API stays covered too."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")

    def draw(salt: str):
        h = F.md5(F.concat(F.lit(salt), F.col("o_orderkey").cast("string")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")

    plain = o.where(draw("b42:") < _BERN_T)
    thresh = F.create_map(
        *[F.lit(x) for kv in _STRAT_T.items() for x in kv]
    )[F.col("o_orderstatus")]
    strat = o.where(draw("s42:") < thresh)
    return plain.withColumn("method", F.lit("bernoulli")).unionByName(
        strat.withColumn("method", F.lit("stratified"))
    )


# Deterministic hash split: the reproducible, engine-independent way to
# partition a corpus into train/val/test (md5 is identical everywhere).
_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM assigned
GROUP BY 1
"""


@register("b_llm_split", oracle=_SPLIT_ORACLE, tags=("pipeline", "split"))
def b_llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5(doc_id) —
    stable under reshuffling, engine-independent, join-free."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# Sampled counts can't hash across engines (engine-specific RNG), but
# their CONCENTRATION can: each stratum's sample size must land within
# 5 sigma of its binomial mean — computed from the exact stratum
# counts, so the oracle needs no RNG at all.
_SAMPLE_BOUNDS_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_stratum,
       TRUE AS within_5_sigma
FROM orders
GROUP BY o_orderstatus
"""

_STRATA_FRACTIONS = {"F": 0.05, "O": 0.05, "P": 0.5}


@register("b_sample_bounds", oracle=_SAMPLE_BOUNDS_ORACLE, tags=("sample", "approx", "property"))
def b_sample_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property check for stratified sampling: per-stratum sampled
    counts must sit within 5σ of n·f (binomial). Turns the seeded
    sampler from 'runs without error' into a tested statistical
    contract, independent of the engine's RNG stream."""
    o = load_table(spark, sf_dir, "orders")
    sampled = (
        o.sampleBy("o_orderstatus", fractions=_STRATA_FRACTIONS, seed=42)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_sampled"))
    )
    frac = F.create_map(
        *[F.lit(x) for kv in _STRATA_FRACTIONS.items() for x in kv]
    )[F.col("o_orderstatus")]
    truth = o.groupBy("o_orderstatus").agg(F.count("*").alias("n_stratum"))
    joined = truth.join(sampled, "o_orderstatus", "left").select(
        "o_orderstatus",
        "n_stratum",
        F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
        (frac * F.col("n_stratum")).alias("mean"),
        F.sqrt(frac * (1 - frac) * F.col("n_stratum")).alias("sigma"),
    )
    return joined.select(
        "o_orderstatus",
        "n_stratum",
        (
            F.abs(F.col("n_sampled") - F.col("mean")) <= 5 * F.col("sigma") + 1
        ).alias("within_5_sigma"),
    )


# C78 — deterministic reservoir-equivalent sampling: exactly k rows
# per stratum, engine-independent and stable under re-runs, corpus
# appends notwithstanding for the surviving rows' ordering rule.
# A true reservoir sample is stream-stateful; the batch equivalent at
# any scale is "k smallest by a uniform hash" per stratum: md5 of the
# unique key is a uniform 128-bit draw, so ranking by (md5, doc_id)
# and keeping rank ≤ k is a uniform k-sample — ONE shuffle (the
# per-stratum window), no RNG stream to disagree across engines, and
# reproducible row-for-row (unlike sample(seed), whose stream is
# engine-specific — see b_sample_seeded).  At 100 TB, skew-safe as
# long as k × |strata| is bounded; the window sort is per-stratum.
_RESERVOIR_K = 40

_RESERVOIR_ORACLE = f"""
SELECT source, doc_id, pick
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS pick
  FROM documents
) t
WHERE pick <= {_RESERVOIR_K}
"""


@register("b_sample_reservoir", oracle=_RESERVOIR_ORACLE, tags=("sample", "deterministic"))
def b_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C78: exact-k-per-stratum deterministic sample (reservoir twin).
    Hash-exact across engines because the 'random' order is
    md5(doc_id) — both engines agree on every surviving row and its
    pick rank, which is what makes this form auditable training-data
    subsampling (the same corpus always yields the same sample)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("pick"))
        .where(F.col("pick") <= _RESERVOIR_K)
    )


# --- Weighted priority sampling (C176) --------------------------------

_PRIORITY_K = 150

# Priority sampling (Duffield, Lund & Thorup, JACM 2007): draw uniform
# u per row, keep the k rows with the largest priority q = w/u, and
# estimate any subset-sum with w_hat = max(w, tau) where tau is the
# (k+1)-th priority.  It is the weighted analogue of the md5-rank
# reservoir (C78): heavy rows are near-certain to survive, light rows
# survive with probability ~ w/tau, and the estimator is unbiased
# with near-optimal variance.  Determinism: u is the seed-keyed md5
# draw (never the engine RNG — see b_sample_seeded), and q compares
# as a division of two exact longs, which IEEE 754 rounds identically
# in every engine; ties (astronomically unlikely) break on the key.
_PRIORITY_ORACLE = f"""
WITH draw AS (
  SELECT o_orderkey,
         CAST(ROUND(100 * o_totalprice) AS BIGINT) AS w_c,
         CAST(concat('0x', substring(md5('w42:' || CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) + 1 AS u32
  FROM orders
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      ORDER BY CAST(w_c AS DOUBLE) / u32 DESC, o_orderkey) AS INT) AS rn
  FROM draw
),
tau AS (
  SELECT CAST(ROUND(1000000 * CAST(w_c AS DOUBLE) / u32) AS BIGINT) AS tau_m
  FROM ranked WHERE rn = {_PRIORITY_K} + 1
)
SELECT o_orderkey, w_c, u32, rn, tau_m,
       CAST(GREATEST(1000000 * w_c, tau_m) AS BIGINT) AS w_hat_m
FROM ranked CROSS JOIN tau
WHERE rn <= {_PRIORITY_K}
"""


@register("b_sample_weighted", oracle=_PRIORITY_ORACLE, tags=("sample", "weighted", "deterministic"))
def b_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C176: deterministic weighted sampling by priority (q = w/u,
    keep top-k) with the Horvitz-Thompson adjusted weight column —
    the importance sampler a training-data pipeline uses to draw a
    quality- or domain-weighted corpus subset whose subset-sums stay
    unbiased (w_hat = max(w, tau) reconstructs totals from the
    sample alone).

    Exactness: see _PRIORITY_ORACLE's note — md5 uniforms and an
    IEEE-identical long/long division, no engine RNG anywhere.
    Scale shape: the draw is map-side; top-(k+1) by priority is a
    TakeOrderedAndProject (per-partition heaps, no global sort), and
    tau broadcasts back onto k rows.  At 100 TB nothing but the
    k-row head ever leaves the executors."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    h = F.md5(F.concat(F.lit("w42:"), F.col("o_orderkey").cast("string")))
    draw = o.select(
        "o_orderkey",
        cents("o_totalprice").alias("w_c"),
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") + 1).alias("u32"),
    )
    q = F.col("w_c").cast("double") / F.col("u32")
    head = (
        draw.orderBy(q.desc(), "o_orderkey")
        .limit(_PRIORITY_K + 1)
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(q.desc(), "o_orderkey")).cast("int"),
        )
    )
    tau = head.where(F.col("rn") == _PRIORITY_K + 1).select(
        F.round(1_000_000 * q).cast("bigint").alias("tau_m")
    )
    return (
        head.where(F.col("rn") <= _PRIORITY_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "o_orderkey",
            "w_c",
            "u32",
            "rn",
            "tau_m",
            F.greatest(1_000_000 * F.col("w_c"), F.col("tau_m"))
            .cast("bigint")
            .alias("w_hat_m"),
        )
    )
