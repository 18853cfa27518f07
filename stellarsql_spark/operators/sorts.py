"""Sorts, limits, top-k (SURVEY.md §2 B28–B30).

The driver's hash compare is order-insensitive, so sortedness is made
hash-visible by materializing the sort position as a column. Global
top-k uses Spark's TakeOrderedAndProject (per-partition heap + driver
merge — no global sort, the scalable plan); per-group top-k uses a
rank window which AQE keeps as one shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.registry import register

_B28_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, bal_band,
       ROW_NUMBER() OVER (ORDER BY bal_band DESC NULLS LAST, s_nationkey ASC, s_suppkey DESC) AS pos
FROM (
  SELECT s_suppkey, s_name, s_nationkey,
         NULLIF(ROUND(s_acctbal / 1000), 0) AS bal_band
  FROM supplier
) t
"""


@register("b_sort_multi", oracle=_B28_ORACLE, tags=("sort",))
def b_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column sort with mixed direction and NULLS LAST, made
    order-sensitive for the hash check via a global position column."""
    s = load_table(spark, sf_dir, "supplier").withColumn(
        "bal_band", F.nullif(F.round(F.col("s_acctbal") / 1000), F.lit(0))
    )
    order = [
        F.col("bal_band").desc_nulls_last(),
        F.col("s_nationkey").asc(),
        F.col("s_suppkey").desc(),
    ]
    w = Window.orderBy(*order)
    return s.select(
        "s_suppkey", "s_name", "s_nationkey", "bal_band", F.row_number().over(w).alias("pos")
    )


_B29_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15
"""


@register("b_topk_global", oracle=_B29_ORACLE, tags=("sort", "topk"))
def b_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heaps, no full sort — survives any scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(15)
    )


_B30_ORACLE = """
SELECT c_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT c_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM customer JOIN orders ON c_custkey = o_custkey
) t
WHERE rn <= 3
"""

# Packed-long list element for the top-3 kernel (r14 optimization):
# packed = cents(o_totalprice) << 34 | (2^34-1 - o_orderkey), so ONE
# bigint sorts exactly like struct(price DESC, orderkey ASC)
# (bitwiseOR in code too since r15 — OR and + agree exactly while the
# low term stays inside the 34-bit field, i.e. 0 ≤ o_orderkey ≤
# 2^34-1, which is the same bound the encoding already requires and
# scale.replicate_table now guards at corpus build — r14 ADVICE):
# - cents is the exact integer cent count (functions.exact): price
#   order == cents order, ties == ties;
# - (2^34-1 - orderkey) inverts the key so larger values mean SMALLER
#   orderkeys — descending packed order breaks price ties ascending.
# Bounds (both hold on every corpus tier by construction): cents <
# 2^29 (max o_totalprice ≈ $555k → 5.6e7 cents; replication shifts
# keys, never prices), so packed < 2^63; o_orderkey ≥ 0 and < 2^34
# (base max ~6e6 plus replica·STRIDE ≤ 999·1e7 ≈ 1.0e10 < 1.7e10).
# Reconstruction is bit-exact: the corpus money columns are exact
# 2-decimal doubles (nearest-double of n/100 — functions.exact), and
# cents < 2^53 makes shiftright(pk,34)/100.0 reproduce exactly that
# nearest double.
_PK_MASK = (1 << 34) - 1

# r15 (VERDICT #1 follow-through): the customer join's strategy ships
# behind a size chooser (the b_join_auto / r15 Q3 precedent).  The
# decision stat is the CUSTOMER table's on-disk parquet bytes, pinned
# at Spark's own autoBroadcastJoinThreshold default (10 MB, and file
# size IS the planner's parquet sizeInBytes estimate), because the
# lever only exists where broadcast can't:
# - below 10 MB (base 0.3 MB, 30× 2.1 MB) the planner already
#   broadcast-joins customer and the current shape is optimal — the
#   chooser keeps the driver's headline/30× plans byte-identical;
# - at/above it (300× 27 MB, 1000× 93 MB) the planner falls back to
#   SortMergeJoin over the EXPLODED rows; joining at the pre-explode
#   grain (≤3-element array per customer, 3× fewer probe rows —
#   guide §3.3 "join first on the un-exploded key and explode after")
#   with a shuffle_hash hint (guide §3.1: hash probe beats two sorts;
#   the build side is the per-partition slice of customer keys, which
#   the bytes/128 MiB partition rule keeps bounded at any scale)
#   measured −26.6% at 300× (4.68 → 3.44 s, min-of-7 paired, spreads
#   ~0.9) and flat at 1000× (+1.6%, inside a contended run's noise) —
#   recorded in OPTIMIZATION_r15.md §topk.
TOPK_SHJ_BYTES = 10 << 20


def choose_topk_join(customer_bytes: int, bar: int = TOPK_SHJ_BYTES) -> str:
    """'posexplode_bhj' while customer is small enough that the
    planner broadcast-joins it anyway; 'array_shj' once broadcast is
    off the table and the pre-explode-grain hash join wins."""
    return "posexplode_bhj" if customer_bytes < bar else "array_shj"


def topk3_packed(
    o: DataFrame, c: DataFrame, repartition_key: bool, join: str = "posexplode_bhj"
) -> DataFrame:
    """Shared top-3-orders-per-customer kernel on the packed-long
    element — used by the plain headline (repartition_key=True, join
    strategy from choose_topk_join) and its bucketed twin (False +
    default join: the bucket layout already satisfies the groupBy
    distribution, so the plan stays zero-exchange)."""
    from stellarsql_spark.functions.exact import cents

    packed = F.shiftleft(cents("o_totalprice"), 34).bitwiseOR(
        F.lit(_PK_MASK) - F.col("o_orderkey")
    )
    top3 = F.slice(F.sort_array(F.collect_list("pk"), asc=False), 1, 3)
    slim = o.select("o_custkey", packed.alias("pk"))
    if repartition_key:
        slim = slim.repartition(F.col("o_custkey"))
    arrays = slim.groupBy("o_custkey").agg(top3.alias("top"))
    if join == "array_shj":
        # posexplode commutes with the key-equijoin (the join key is
        # untouched by the explode), so joining at the ≤3-element
        # array grain is result-identical under any key multiplicity
        # — certified by exceptAll both ways at 300× and 1000× in the
        # r15 A/B plus the registered oracle gate.
        cc = c.select("c_custkey").hint("shuffle_hash")
        return (
            arrays.join(cc, arrays.o_custkey == F.col("c_custkey"))
            .select("c_custkey", F.posexplode("top").alias("pos", "pk"))
            .select(
                "c_custkey",
                (F.lit(_PK_MASK) - F.col("pk").bitwiseAND(F.lit(_PK_MASK))).alias(
                    "o_orderkey"
                ),
                (F.shiftright("pk", 34) / 100.0).cast("double").alias("o_totalprice"),
                (F.col("pos") + 1).cast("int").alias("rn"),
            )
        )
    aggd = arrays.select("o_custkey", F.posexplode("top").alias("pos", "pk")).select(
        "o_custkey",
        (F.lit(_PK_MASK) - F.col("pk").bitwiseAND(F.lit(_PK_MASK))).alias("o_orderkey"),
        (F.shiftright("pk", 34) / 100.0).cast("double").alias("o_totalprice"),
        (F.col("pos") + 1).alias("rn"),
    )
    return aggd.join(c.select("c_custkey"), aggd.o_custkey == F.col("c_custkey")).select(
        "c_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn")
    )


@register("b_topk_per_group", oracle=_B30_ORACLE, tags=("sort", "topk"))
def b_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer as a HASH AGGREGATE, not a sort.

    row_number-over-window needs two full sorts of the fact table
    (partial WindowGroupLimit sort before the exchange, final sort
    after) — measured 1.8 s at the 10× probe. When the per-group row
    count is bounded (orders per customer ≈ 10-30), collect_list +
    sort_array + slice computes the same top-3 with per-group
    O(g log g) micro-sorts: no global sort anywhere and linear (not
    n log n) in the fact size. The customer join runs AFTER the
    limit, on ≤3 rows per key. For unbounded groups the window form
    (b_win_*) remains the fallback.

    Two r14-optimization choices, A/B'd at the 300× tier
    (OPTIMIZATION_r14.md §topk, min-of-5 paired; base 5.95 s):
    - the list element is ONE packed bigint instead of
      struct(double, long) — see _PK_MASK's block comment for the
      encoding and its bounds.  Halves the element payload crossing
      the exchange and turns the per-group micro-sort into primitive
      long compares (5.43 s packed-only);
    - the slim (custkey, packed) pairs repartition on the group key
      BEFORE aggregating — b_join_inner's measured lesson applied to
      collect_list, where a pre-exchange partial can NEVER reduce
      (lists concatenate): the partial ObjectHashAggregate pays a
      per-task object hash map over scattered keys and still ships
      every row, while post-exchange the aggregate runs once on
      key-local data (5.13 s repart-only).
    Combined: 4.52 s = −24% vs base at 300×, same result set
    (exceptAll-equal both ways on 13.5M rows).

    r15: the customer join's strategy ships behind choose_topk_join
    (customer-bytes chooser, TOPK_SHJ_BYTES block comment): below the
    broadcast threshold the r14 plan is kept byte-identically; above
    it the join runs at the pre-explode array grain under a
    shuffle_hash hint (−26.6% at 300×, flat at 1000×)."""
    from stellarsql_spark.catalog import table_bytes

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    join = choose_topk_join(table_bytes(sf_dir, "customer"))
    return topk3_packed(o, c, repartition_key=True, join=join)
