"""TPC-H-shaped multi-join analytical queries (SURVEY.md §2 B8/B16
realism extension): the canonical OLAP plans a warehouse engine must
run well — selective scans feeding join trees into grouped aggregates.

Plan shape at scale: filters push to every scan, small dims broadcast,
the fact-side join shuffles once per key change, aggregation is
partial+final. AQE reorders/rewrites at runtime with real stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table, table_bytes
from stellarsql_spark.functions.exact import SQL_DISC_PRICE, cents, disc_price
from stellarsql_spark.registry import register

# Q3's revenue rides as scaled integers (1e-4 dollar units; see
# functions.exact and the b_agg_groupby oracle note) — the headline
# hot path. The other TPC-H keys keep the DECIMAL convention on
# purpose: both exact-money forms stay demonstrated and tested.
_Q3_ORACLE = """
SELECT l_orderkey,
       CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# r15 (VERDICT #3 + #7): Q3's depth crossover ships behind the
# certified chooser pattern (b_join_auto / b_llm_dedup_auto).  The
# decision stat is the lineitem table's on-disk parquet bytes — a
# corpus property (driver-side getsize sum, no Spark job), pinned
# like DEDUP_BLOOM_CROSSOVER so the verdict never depends on session
# state.  Measured decision table (OPTIMIZATION_r14.md and
# OPTIMIZATION_r15.md §q3, interleaved min-of-N, result equality
# asserted first):
# - 11 MiB (sf0.1): eager pre-agg LOSES ~45% (the extra l_orderkey
#   exchange is pure fixed cost when the filtered lineitem side is
#   already tiny) → 'base';
# - 233 MiB (30×): eager pre-agg WINS ~21% (the exchange + post-join
#   groupBy collapse to one narrow pre-agg exchange) → 'preagg'.
# The bar splits the unmeasured decade between the two points at a
# power of two, 128 MiB (half of tune_for_data_size's 256 MiB
# small/mid cut): below it the measured loss side, above it within 2×
# of the measured win side.  The shuffle_hash hint
# rides ONLY the base lane (VERDICT #7's tier gate): it was measured
# at the AQE-off base tier, and the preagg lane reshapes the join
# input entirely (the build side becomes the one-row-per-order
# pre-agg, and at ≥768 MiB AQE picks the strategy at runtime).
Q3_PREAGG_BYTES = 128 << 20


def choose_q3_strategy(lineitem_bytes: int, bar: int = Q3_PREAGG_BYTES) -> str:
    """'base' while the (unfiltered) lineitem input is small enough
    that Q3's extra pre-agg exchange would dominate; 'preagg' once
    the data term flips it — the OPTIMIZATION_r14 §q3 crossover as a
    decision rule."""
    return "base" if lineitem_bytes < bar else "preagg"


def _q3(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    """Both Q3 lanes; result sets identical (certified in
    tests/test_round15_opt.py by exceptAll both ways on the real
    corpus, plus the oracle hash through the registered key)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-03-15")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-03-15")
    ep, dc = cents("l_extendedprice"), cents("l_discount")
    rev = (F.sum(ep * (100 - dc)) / 10000.0).cast("double").alias("revenue")
    if strategy == "preagg":
        # guide §2.3 "aggregate before you shuffle": revenue collapses
        # to one row per order BEFORE the join, the orderkey exchange
        # carries |filtered orders| rows, and the post-join groupBy
        # disappears (l_orderkey is unique after the pre-agg).
        li_rev = li.groupBy("l_orderkey").agg(rev)
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .join(li_rev, o.o_orderkey == li_rev.l_orderkey)
            .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
            .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
            .limit(10)
        )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li.hint("shuffle_hash"), o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register("b_tpch_q3", oracle=_Q3_ORACLE, tags=("tpch", "join", "agg"))
def b_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): 3-way join → grouped revenue →
    global top-10 (TakeOrderedAndProject, no full sort). Revenue as
    scaled-integer sums (-24% at sf0.1 vs the decimal form).

    r14-optimization choices, interleaved min-of-9 A/B at sf0.1
    (result-list equality asserted first):
    - the lineitem join is hinted shuffle_hash (base 0.279/0.253 s →
      0.258/0.241 s across two sessions): at the base tier
      tune_for_data_size turns AQE off, so the static planner's
      SortMergeJoin pays two sorts that hash probing skips — the same
      measured lesson as b_join_inner and the skew family.  The
      shipdate-filtered lineitem side is the natural build side at
      every tier (the date cutoff keeps ~3%).
    - F.broadcast(filtered lineitem) measured NEGATIVE (0.369/0.347 s)
      despite the small build side: per-execution TorrentBroadcast
      build/cleanup churn, the r5 join_inner negative again.  Not
      scale-safe either (the build side grows linearly with the
      corpus).
    The post-join partial+final HashAggregate pair stays fused in the
    join stage either way (join output is already partitioned by
    l_orderkey).

    r15: the eager l_orderkey pre-aggregation (r14's measured −21% at
    30×, −45% at the headline tier) now SHIPS behind the size chooser
    above — the headline/oracle tiers (≤ sf0.1) stay on the measured
    base-optimal lane byte-identically, ≥128 MiB corpora get the
    depth-optimal lane, and both lanes are certified result-equal."""
    return _q3(spark, sf_dir, choose_q3_strategy(table_bytes(sf_dir, "lineitem")))


_Q5_ORACLE = f"""
SELECT n_name,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register("b_tpch_q5", oracle=_Q5_ORACLE, tags=("tpch", "join", "agg"))
def b_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): 6-table join with a two-key
    supplier condition; nation/region broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("b_tpch_q4", oracle=_Q4_ORACLE, tags=("tpch", "subquery"))
def b_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking) via SQL text: a correlated
    EXISTS that Catalyst decorrelates into a left-semi join."""
    from stellarsql_spark.catalog import register_views

    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q4_ORACLE)
