"""MERGE / upsert emulation (plain Spark, no Delta in this image):
the anti-join + union construction — updates overwrite matched keys,
inserts append unmatched ones. At scale this is one shuffle on the
merge key (or zero with bucketed storage); with Delta/Iceberg on the
classpath the same logic is `MERGE INTO` and the code collapses to
one SQL statement (documented swap point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents
from stellarsql_spark.registry import register

# The incoming batch: one update to an existing region, one new region.
_BATCH = [(0, "AFRICA_RENAMED"), (100, "ATLANTIS")]

_MERGE_ORACLE = """
WITH batch AS (
  SELECT * FROM (VALUES (0, 'AFRICA_RENAMED'), (100, 'ATLANTIS')) AS t(r_regionkey, r_name)
)
SELECT r_regionkey, r_name, 'kept' AS action FROM region
WHERE r_regionkey NOT IN (SELECT r_regionkey FROM batch)
UNION ALL
SELECT b.r_regionkey, b.r_name,
       CASE WHEN r.r_regionkey IS NULL THEN 'inserted' ELSE 'updated' END AS action
FROM batch b LEFT JOIN region r ON b.r_regionkey = r.r_regionkey
"""


def merge_upsert(target: DataFrame, batch: DataFrame, key: str) -> DataFrame:
    """Generic upsert: rows of `target` not in `batch` survive, batch
    rows replace/insert the rest, tagged with the action taken."""
    kept = target.join(batch, on=key, how="left_anti").withColumn("action", F.lit("kept"))
    target_keys = target.select(F.col(key).alias("_tk"))
    applied = batch.join(
        target_keys, batch[key] == F.col("_tk"), "left"
    ).select(
        *[c for c in batch.columns],
        F.when(F.col("_tk").isNull(), "inserted").otherwise("updated").alias("action"),
    )
    return kept.unionByName(applied)


@register("b_merge_upsert", oracle=_MERGE_ORACLE, tags=("merge", "upsert"))
def b_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert a literal batch into region (anti-join + union MERGE)."""
    region = load_table(spark, sf_dir, "region")
    batch = spark.createDataFrame(_BATCH, schema=region.schema)
    return merge_upsert(region, batch, "r_regionkey")


_SCD2_ORACLE = """
WITH versions AS (
  SELECT user_id, ts AS valid_from, value,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM events
  WHERE event_type = 'signup'
)
SELECT user_id, version, valid_from, valid_to,
       CAST(valid_to IS NULL AS BOOLEAN) AS is_current,
       CAST(value AS DOUBLE) AS value
FROM versions
"""


@register("b_merge_scd2", oracle=_SCD2_ORACLE, tags=("merge", "scd2", "window"))
def b_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each user's signup events become
    versioned rows with [valid_from, valid_to) ranges — valid_to is
    the next version's start (LEAD), NULL marks the current row. One
    window per user partition; at scale this is the standard way to
    turn a change log into a dimension history without self-joins."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "signup")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        F.col("value").cast("double").alias("value"),
    )


# --- full-snapshot sync MERGE (with BY SOURCE delete) ----------------

_SYNC_ORACLE = """
WITH tgt AS (
  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
  FROM customer WHERE c_custkey < 300
),
src AS (
  SELECT c_custkey, CAST(c_acctbal + 10.0 AS DOUBLE) AS bal
  FROM customer WHERE c_custkey >= 100 AND c_custkey < 400
)
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN s.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL THEN 'updated'
            WHEN s.c_custkey IS NOT NULL THEN 'inserted'
            ELSE 'deleted' END AS action,
       s.bal AS bal
FROM tgt t FULL JOIN src s ON t.c_custkey = s.c_custkey
"""


@register("b_merge_sync", oracle=_SYNC_ORACLE, tags=("merge", "sync", "delete"))
def b_merge_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C131: full-snapshot dimension sync — the three-way MERGE
    (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT / WHEN NOT MATCHED
    BY SOURCE DELETE) that reconciles a warehouse dimension against a
    complete upstream snapshot. Emulated as ONE full-outer join on
    the key with per-row action classification; deleted keys are
    emitted (bal NULL) as the audit trail a production MERGE writes
    to its change log. One key-partitioned shuffle per side at any
    scale — with both snapshots bucketed on the key (sources/
    bucketed.py) the exchange disappears entirely; on Delta/Iceberg
    this collapses to MERGE INTO with the same plan underneath."""
    c = load_table(spark, sf_dir, "customer")
    tgt = c.where(F.col("c_custkey") < 300).select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("bal")
    )
    src = c.where((F.col("c_custkey") >= 100) & (F.col("c_custkey") < 400)).select(
        "c_custkey", (F.col("c_acctbal") + 10.0).cast("double").alias("bal")
    )
    t = tgt.alias("t")
    s = src.alias("s")
    j = t.join(s, F.col("t.c_custkey") == F.col("s.c_custkey"), "full_outer")
    return j.select(
        F.coalesce(F.col("s.c_custkey"), F.col("t.c_custkey")).alias("c_custkey"),
        F.when(
            F.col("s.c_custkey").isNotNull() & F.col("t.c_custkey").isNotNull(), "updated"
        )
        .when(F.col("s.c_custkey").isNotNull(), "inserted")
        .otherwise("deleted")
        .alias("action"),
        F.col("s.bal").alias("bal"),
    )


# --- Incremental view maintenance for a join view (C200) -------------------

_IVM_DELTA_KEYS = 7   # customers whose orders arrive in the delta batch

# Delta propagation for V = orders ⋈ customer: when a batch ΔO of new
# orders lands, the view updates with ΔV = ΔO ⋈ customer — it never
# re-joins the full fact table (the IVM identity for inserts into one
# side; b_ts_rollup_incremental is the aggregate analogue).  The
# "delta batch" is carved deterministically from the corpus itself
# (orders of customers with custkey % 1000 < 7 are 'late'), so both
# engines replay the same split.  The key emits the maintained view's
# per-segment rollup PLUS a full-recompute equality check as a tested
# column — maintenance correctness is the contract, not a hope.
_IVM_ORACLE = f"""
WITH late AS (
  SELECT * FROM orders WHERE o_custkey % 1000 < {_IVM_DELTA_KEYS}
),
base AS (
  SELECT * FROM orders WHERE o_custkey % 1000 >= {_IVM_DELTA_KEYS}
),
v_base AS (
  SELECT c.c_mktsegment, o.o_totalprice
  FROM base o JOIN customer c ON o.o_custkey = c.c_custkey
),
dv AS (
  SELECT c.c_mktsegment, o.o_totalprice
  FROM late o JOIN customer c ON o.o_custkey = c.c_custkey
),
maintained AS (
  SELECT * FROM v_base UNION ALL SELECT * FROM dv
),
recomputed AS (
  SELECT c.c_mktsegment, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
m AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS rev_c
  FROM maintained GROUP BY c_mktsegment
),
r AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS rev_c
  FROM recomputed GROUP BY c_mktsegment
)
SELECT m.c_mktsegment, m.n, m.rev_c,
       (m.n = r.n AND m.rev_c = r.rev_c) AS matches_recompute
FROM m JOIN r ON m.c_mktsegment = r.c_mktsegment
"""


@register("b_merge_ivm", oracle=_IVM_ORACLE, tags=("merge", "ivm", "incremental"))
def b_merge_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C200: incremental maintenance of a join view — a late-arriving
    order batch updates V = orders ⋈ customer via ΔV = ΔO ⋈ customer,
    never re-joining the base fact table.  The per-segment rollup of
    the maintained view ships with a full-recompute equality flag, so
    the maintenance identity is hash-certified per segment.

    Scale shape: the base view materializes once (at 100 TB it lives
    as a table; here as a DataFrame); each delta batch joins ONLY
    |ΔO| rows against the (broadcastable) dimension — maintenance
    cost is delta-sized, the entire point.  The rollup exchange
    carries 5 segment rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    late = o.where(F.col("o_custkey") % 1000 < _IVM_DELTA_KEYS)
    base = o.where(F.col("o_custkey") % 1000 >= _IVM_DELTA_KEYS)
    v_base = base.join(F.broadcast(c), base.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_totalprice"
    )
    dv = late.join(F.broadcast(c), late.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_totalprice"
    )
    maintained = v_base.unionByName(dv)
    recomputed = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_totalprice"
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents("o_totalprice")).alias("rev_c"),
        )

    m = rollup(maintained)
    r = rollup(recomputed).select(
        F.col("c_mktsegment").alias("seg_r"),
        F.col("n").alias("n_r"),
        F.col("rev_c").alias("rev_r"),
    )
    return m.join(F.broadcast(r), m.c_mktsegment == r.seg_r).select(
        "c_mktsegment",
        "n",
        "rev_c",
        ((F.col("n") == F.col("n_r")) & (F.col("rev_c") == F.col("rev_r"))).alias(
            "matches_recompute"
        ),
    )


# --- SCD2 point-in-time lookup (C225) ----------------------------------------------

# The consumer side of b_merge_scd2: join each fact (purchase) to the
# dimension VERSION that was effective at the fact's timestamp —
# ts ∈ [valid_from, valid_to) with NULL valid_to as the open current
# row.  This interval lookup is what makes an SCD2 history useful;
# building it (the producer key) without this query is half the
# feature.
_SCD2_LOOKUP_ORACLE = """
WITH hist AS (
  SELECT user_id,
         ROW_NUMBER() OVER w AS version,
         ts AS valid_from,
         LEAD(ts) OVER w AS valid_to
  FROM events WHERE event_type = 'signup'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
hits AS (
  SELECT h.version, CAST(ROUND(100 * e.value) AS BIGINT) AS v_c
  FROM events e JOIN hist h ON e.user_id = h.user_id
   AND e.ts >= h.valid_from AND (h.valid_to IS NULL OR e.ts < h.valid_to)
  WHERE e.event_type = 'purchase'
)
SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_purchases,
       CAST(SUM(v_c) AS BIGINT) AS sum_value_c
FROM hits GROUP BY version ORDER BY version
"""


@register("b_join_scd2_lookup", oracle=_SCD2_LOOKUP_ORACLE, tags=("merge", "scd2", "join"))
def b_join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C225: point-in-time dimension lookup against the SCD2 history
    b_merge_scd2 builds (this key literally composes that builder):
    each purchase joins to the signup-version row effective at its
    timestamp (half-open [valid_from, valid_to), NULL = current).
    Purchases before a user's first version drop out by definition.

    Scale shape: the interval predicate rides a user_id EQUI-join —
    both sides shuffle once on user_id and the range conditions
    evaluate inside the joined partition (never a cross join); a
    user's version count is small, so the per-key fan-out is bounded.
    Output is a |versions|-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    hist = b_merge_scd2(spark, sf_dir)
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"),
        cents("value").alias("v_c"),
    )
    hits = purch.join(
        hist.select("user_id", "version", "valid_from", "valid_to"),
        ["user_id"],
    ).where(
        (F.col("p_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to")))
    )
    return (
        hits.groupBy(F.col("version").cast("bigint").alias("version"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("v_c").cast("bigint").alias("sum_value_c"),
        )
    )
