"""Skew-resilient joins (SURVEY.md §4.2 "skew handling").

One query carries the family: orders⋈lineitem rolled up by
o_orderstatus (row count + exact decimal revenue).  Every form is a
physical re-partitioning of the same join, so all share one oracle,
the plain SQL join (_SALTED_ORACLE, named for the family's first
form).  The forms kept:

- b_join_skew_split: the plain shuffle-hash join under AQE skew
  splitting with tier-scaled thresholds — b_join_auto's lane for a
  heavy-tailed key;
- b_join_skew_bypass: the hot keys pre-aggregate map-side and meet a
  broadcast, the cold remainder takes the plain join — the fastest
  form under zipfian skew;
- b_join_auto: runs the exact key audit, dispatches to plain, bypass
  or aqe_split, and emits the verdict beside the rows (its oracle
  certifies both).

b_join_skew_aqe is the split rule's own demonstration on a synthetic
hot key, with its own oracle.

Blanket salting (C7), detect-then-salt (C155) and cold-lane eager
aggregation (C256) were retired: a kept form beat each of them in
every measured regime (sf0.1 uniform, 30× and 300× zipfian, one host;
CHANGES.md).  A new form joins the family only if it beats a kept
one in some measured regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents, sql_dsum
from stellarsql_spark.registry import register

_SALTED_ORACLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_items,
       {sql_dsum('l_extendedprice')} AS gross
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


def _plain_rollup(li: DataFrame, o: DataFrame) -> DataFrame:
    """The unmitigated form every kept lane reduces to: lineitem
    probes a shuffle-hash build of orders, then the status rollup.
    The hint skips the fact-side sort a sort-merge join would pay
    (40.7 s → 6.7 s at 300×z, SCALE.md round-8)."""
    li = li.select("l_orderkey", "l_extendedprice")
    o = o.select("o_orderkey", "o_orderstatus")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("gross"),
        )
    )


# One synthetic hot key carrying ~90% of rows (the remaining 10%
# spread over 97 cold keys) — the distribution AQE's skew detector is
# built for: hot-partition size >> max(threshold, factor × median).
_SKEW_KEY = (
    "CASE WHEN event_id % 10 < 9 THEN 'hot' "
    "ELSE 'cold_' || CAST(event_id % 97 AS VARCHAR) END"
)

# The 98 keys the synthetic CASE can produce.  A SUPERSET of the keys
# actually present at any SF is equivalent to DISTINCT-from-fact under
# an inner join (unmatched dim rows drop out) — and a literal dim whose
# shuffle feeds the join DIRECTLY is required for the skew rule to
# fire: OptimizeSkewedJoin pattern-matches SMJ over two bare shuffle
# stages, so a dim built by distinct() (HashAggregate above the
# exchange) is invisible to it.  Measured, not guessed.
_SKEW_DIM_KEYS = ["hot"] + [f"cold_{i}" for i in range(97)]

_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # sf-corpus partitions are KBs; drop the production thresholds so
    # the same skew geometry triggers the same split decision here
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # skew splitting only applies to shuffle joins — pin away the
    # broadcast the tiny dim would otherwise get
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "32",
}

_SKEW_AQE_ORACLE = f"""
WITH fact AS (
  SELECT {_SKEW_KEY} AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS v_cents
  FROM events
),
dim AS (SELECT DISTINCT k FROM fact)
SELECT LENGTH(f.k) AS klen,
       COUNT(*) AS n_events,
       CAST(SUM(f.v_cents) AS DOUBLE) / 100.0 AS sum_value
FROM fact f JOIN dim d ON f.k = d.k
GROUP BY LENGTH(f.k)
"""


@register("b_join_skew_aqe", oracle=_SKEW_AQE_ORACLE, tags=("join", "skew", "aqe"))
def b_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C101: AQE skew-join splitting on its own, with zero query
    rewrite (the rule b_join_skew_split relies on at depth). The fact
    side is keyed so one key
    holds ~90% of rows; a shuffle join on that key puts ~90% of the
    data in one task, the exact pathology that serializes a
    1000-executor cluster behind one straggler. With skew splitting
    on, AQE carves the oversized partition into advisory-sized
    slices at runtime — splitting at MAP-output granularity — and
    replicates the matching build rows per slice
    (`SortMergeJoin(skew=true)`, asserted post-execution in tests):
    same results, straggler gone, zero query rewrite.

    Three construction requirements, each found by measurement:
    - the dim must reach the join as a bare shuffle stage (see
      _SKEW_DIM_KEYS note) — an aggregate above the dim exchange
      defeats the rule's pattern match;
    - the fact side must arrive from MANY map tasks: a skewed reduce
      partition is split at mapper boundaries, and the sf corpus is
      one parquet row group = one mapper, unsplittable. The
      repartition(12) emulates the thousands of natural mappers a
      100 TB fact scan has (on the cluster it is not needed);
    - the final aggregate groups by a DERIVED key (klen), not the
      join key: a same-key aggregate's required distribution pins the
      join output partitioning and Spark (correctly) refuses the
      split even under forceOptimizeSkewedJoin.

    The skew confs live on a CLONED SparkSession (`newSession`:
    shared SparkContext + cached data, independent SQLConf), because
    AQE re-reads conf at stage-re-optimization time — a set/restore
    around plan build would be lost before execution. The clone also
    keeps the lowered thresholds from leaking into other keys' audited
    plans. Oracle = the same join unsplit: splitting is a physical
    repartitioning, provably result-identical."""
    from stellarsql_spark.catalog import _read_table

    s2 = spark.newSession()
    for k, v in _SKEW_CONFS.items():
        s2.conf.set(k, v)
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    # _read_table, not load_table: the table cache is keyed by
    # applicationId (shared with the parent session), so a cached hit
    # would hand back a DataFrame BOUND TO THE PARENT session — whose
    # execution ignores the clone's skew confs entirely (found by the
    # full-suite run: standalone green, in-suite no split).
    fact = (
        _read_table(s2, sf_dir, "events")
        .repartition(12)
        .select(
            F.expr(_SKEW_KEY.replace("VARCHAR", "STRING")).alias("k"),
            cents("value").alias("v_cents"),
        )
    )
    dim = s2.createDataFrame([(k,) for k in _SKEW_DIM_KEYS], "dk string")
    return (
        fact.join(dim, fact.k == dim.dk)
        .groupBy(F.length("k").cast("int").alias("klen"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("v_cents") / 100.0).cast("double").alias("sum_value"),
        )
    )


# Tier-scaled skew confs for b_join_skew_split.  Stock thresholds are
# COMPRESSED map-output bytes sized for cluster-scale partitions
# (256 MB / advisory 64 MB); at this harness's GiB tiers the zipfian
# hot partition compresses to ~250 MB and stock AQE *coalescing*
# actively concentrates the shuffle (measured r8: stock SHJ 15.6 s,
# stock SMJ 40.7 s — the coalesce, not the straggler, dominated) while
# the skew rule never trips.  Scaling both knobs by the tier restores
# the cluster-scale geometry: skew=true fires on the lineitem side
# and the join lands at the shuffle floor (6.7 s vs a bare 180M-row
# repartition's 10.4 s; SCALE.md round-8).  Same class of lesson as
# r7's task-width fix: never size by compressed bytes you didn't
# rescale.
_SPLIT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64MB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16MB",
}


@register("b_join_skew_split", oracle=_SALTED_ORACLE, tags=("join", "skew", "aqe"))
def b_join_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C154: the zero-rewrite AQE skew-split form of the
    orders⋈lineitem rollup (_plain_rollup under tier-scaled skew
    confs) — b_join_auto's aqe_split lane.

    b_join_skew_aqe proves the split RULE fires (synthetic hot key,
    forced); this key is the shape you actually run at 100 TB: a
    plain shuffle-hash join under `spark.sql.adaptive.skewJoin` with
    thresholds scaled to the tier (see _SPLIT_CONFS — stock values
    assume cluster-sized partitions), measured in BENCH_r08's
    `scale_probe_skew` block against the zipfian corpus
    (scale.py ensure_skewed_corpus: hot orderkey #1 carries ~18% of
    lineitem; AQEShuffleRead shows `skewed` on the fact side when it
    runs there).  On un-skewed corpora the rule correctly stays idle
    and this is just the plain join — one oracle covers every SF.  The
    post-join aggregate groups by o_orderstatus (not the join key), so
    the join output's partitioning is unconstrained and AQE is free to
    split."""
    s2 = spark.newSession()
    for k, v in _SPLIT_CONFS.items():
        s2.conf.set(k, v)
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    s2.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions", "32"),
    )
    from stellarsql_spark.catalog import _read_table

    return _plain_rollup(_read_table(s2, sf_dir, "lineitem"), _read_table(s2, sf_dir, "orders"))


# Hot-key detection sample: cheap pre-pass fraction and the sampled
# count above which a key is treated as hot (≈ keys holding >~1% of
# the table; uniform corpora produce no qualifying key).
_HOT_SAMPLE = 0.02
_HOT_MIN_SAMPLED = 50
_HOT_TOP = 8


@register("b_join_skew_bypass", oracle=_SALTED_ORACLE, tags=("join", "skew", "broadcast"))
def b_join_skew_bypass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C255: hot-key BYPASS — the skew form that removes the hot
    shuffle entirely (r8 VERDICT next-round #2).

    The r8 five-form A/B stopped at the AQE-split shuffle floor
    (6.3 s at 300×z): splitting balances the hot partition but every
    hot probe row still crosses the exchange.  This form routes the
    hot keys around the shuffle instead:

    - **hot lane** (~8 keys holding ~50% of lineitem): the probe rows
      pre-aggregate BY KEY first — with ≤|hot| distinct keys the
      map-side partial collapses each task to ≤|hot| rows, so the
      ~90M hot rows reduce in place and the exchange carries
      |hot|×tasks partials (~256 rows).  The ~8 matching orders rows
      then BROADCAST onto the 8-row aggregate.  Zero data-sized
      shuffle, zero stragglers.
    - **cold lane** (the skew-free remainder): plain shuffled hash
      join, exactly b_join_skew_split without its pathology.

    Both lanes aggregate to ≤|status| rows and a union re-aggregate
    (SUM of partial counts/sums — exact, decimal carriers) folds them.
    Result-identical to the plain join for ANY detected hot set
    (routing is a physical partitioning of the probe rows), so the
    shared _SALTED_ORACLE covers every corpus; with no detected hot
    key it degenerates to the plain shuffle-hash join.

    Cost note: the probe side is scanned twice (hot filter + cold
    filter — the In(8 keys) predicate pushes to the parquet scan both
    ways).  One extra columnar scan buys the removal of a ~90M-row
    shuffle materialization; at 100 TB the same trade holds whenever
    hot keys carry a material fraction of the table, and the scan is
    the cheaper side of it (SCALE.md round-9 measures the split)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hot = [
        r[0]
        for r in li.sample(_HOT_SAMPLE, seed=7)
        .groupBy("l_orderkey")
        .count()
        .where(F.col("count") >= _HOT_MIN_SAMPLED)
        .orderBy(F.desc("count"))
        .limit(_HOT_TOP)
        .collect()
    ]
    if not hot:
        return _plain_rollup(li, o)
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    is_hot_li = F.col("l_orderkey").isin(hot)
    is_hot_o = F.col("o_orderkey").isin(hot)
    hot_pre = (
        li.where(is_hot_li)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_p"), F.sum(dec).alias("g_p"))
    )
    o_hot = o.where(is_hot_o).select("o_orderkey", "o_orderstatus")
    hot_lane = (
        hot_pre.join(F.broadcast(o_hot), hot_pre.l_orderkey == o_hot.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_p").alias("n_items"),
            F.sum("g_p").cast("decimal(38,2)").alias("gross_d"),
        )
    )
    li_cold = li.where(~is_hot_li).select("l_orderkey", "l_extendedprice")
    o_cold = o.where(~is_hot_o).select("o_orderkey", "o_orderstatus")
    cold_lane = (
        li_cold.join(o_cold.hint("shuffle_hash"), li_cold.l_orderkey == o_cold.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(dec).cast("decimal(38,2)").alias("gross_d"),
        )
    )
    return (
        hot_lane.unionByName(cold_lane)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_items").cast("bigint").alias("n_items"),
            F.sum("gross_d").cast("double").alias("gross"),
        )
    )


# --- Audit-driven strategy chooser (r10 VERDICT #7) --------------------------

# C261 (b_quality_keyskew) computes the EXACT key distribution audit
# that this family's sampled detector approximates.  This helper is
# the documented decision table that turns the two shipped artifacts —
# the audit and the kept join forms — into one operating
# procedure: run the audit once per (table, key), then pick the form
# its verdict names.  Thresholds and rationale:
#
# | verdict     | rule                              | why (measured)        |
# |-------------|-----------------------------------|-----------------------|
# | 'plain'     | max_n ≤ 4·(n_rows/n_shuffle)      | even the hottest key  |
# |             |                                   | stays under AQE's 5×- |
# |             |                                   | median skew bar in the|
# |             |                                   | worst placement; any  |
# |             |                                   | mitigation only adds  |
# |             |                                   | cost (blanket salt and|
# |             |                                   | cold-lane eager-agg   |
# |             |                                   | lost in every measured|
# |             |                                   | regime and were       |
# |             |                                   | retired, CHANGES.md)  |
# | 'bypass'    | not plain AND top8_share ≥ 25%    | a bounded hot head    |
# |             |                                   | owns the table — the  |
# |             |                                   | hot lane pre-aggs map-|
# |             |                                   | side and BROADCASTs,  |
# |             |                                   | removing the hot rows |
# |             |                                   | from the exchange     |
# |             |                                   | entirely (fastest     |
# |             |                                   | skew form at 300×z,   |
# |             |                                   | SCALE.md round-9)     |
# | 'aqe_split' | otherwise (heavy tail)            | hot keys too many to  |
# |             |                                   | enumerate/broadcast;  |
# |             |                                   | AQE splits oversized  |
# |             |                                   | partitions at runtime |
# |             |                                   | (b_join_skew_aqe)     |
#
# The 4× bar is deliberately under AQE's default 5×-median factor:
# hashing can stack ~n_shuffle/|hot| keys per partition, so a key at
# 4× fair share is the conservative edge of "no partition overflows".
# The 25% top-8 bar marks where one extra columnar scan (the bypass's
# hot/cold double read) is provably cheaper than shuffling that share
# of the table (the round-9 decomposition: the hot half's exchange
# materialization alone cost more than the full second scan).


def choose_join_strategy(
    audit_row,
    *,
    shuffle_partitions: int = 32,
) -> str:
    """Pick the join form for a fact-table key from C261's exact audit.

    ``audit_row``: a Row (or mapping) with b_quality_keyskew's columns
    — n_rows, max_n, top8_share_m (shares in millionths).  Returns
    'plain' | 'bypass' | 'aqe_split', which b_join_auto runs as
    _plain_rollup / b_join_skew_bypass / b_join_skew_split."""
    n_rows = int(audit_row["n_rows"])
    max_n = int(audit_row["max_n"])
    top8_share_m = int(audit_row["top8_share_m"])
    if n_rows <= 0:
        return "plain"
    fair = n_rows / shuffle_partitions
    if max_n <= 4 * fair:
        return "plain"
    if top8_share_m >= 250_000:
        return "bypass"
    return "aqe_split"


# --- Audit-driven join, end to end (C272, r11 VERDICT #4) --------------------

# The chooser's bars, replayed in SQL so the oracle derives the SAME
# verdict from the same exact audit: 32 is pinned (the decision-table
# default, independent of the session conf) so the verdict is a
# corpus property, not a session property, and both engines agree by
# construction.  The result block is _SALTED_ORACLE verbatim — every
# lane of the dispatch is result-identical to the plain join, which is
# the whole point of certifying the dispatch with one oracle.
_AUTO_ORACLE = f"""
WITH k AS (
  SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_rows, CAST(MAX(n) AS BIGINT) AS max_n
  FROM k
),
t8 AS (
  SELECT CAST(SUM(n) AS BIGINT) AS top8_n
  FROM (SELECT n FROM k ORDER BY n DESC, key LIMIT 8) s
),
v AS (
  SELECT CASE
    WHEN CAST(max_n AS DOUBLE) <= 4.0 * CAST(n_rows AS DOUBLE) / 32.0
      THEN 'plain'
    WHEN CAST(ROUND(1000000.0 * top8_n / n_rows) AS BIGINT) >= 250000
      THEN 'bypass'
    ELSE 'aqe_split' END AS verdict
  FROM tot, t8
)
SELECT v.verdict, q.o_orderstatus, q.n_items, q.gross
FROM v CROSS JOIN (
  SELECT o_orderstatus,
         COUNT(*) AS n_items,
         {sql_dsum('l_extendedprice')} AS gross
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderstatus
) q
"""


@register("b_join_auto", oracle=_AUTO_ORACLE,
          tags=("join", "skew", "auto", "eager"))
def b_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C272: the operating procedure as a certified operator (r11
    VERDICT #4) — run the C261 exact key audit on lineitem.l_orderkey,
    let ``choose_join_strategy`` pick the join form, EXECUTE that form,
    and emit the verdict beside the result rows.  The oracle recomputes
    the same audit + decision rule in SQL and the plain join, so the
    hash certifies BOTH that the chooser picked what the decision table
    says for this corpus AND that the dispatched form is
    result-identical to the plain join (every skew form's founding
    contract).

    Dispatch targets (all share _SALTED_ORACLE's result block):
    - 'plain'     → _plain_rollup (no mitigation: the audit proved
                    no partition can overflow, so any mitigation only
                    adds cost);
    - 'bypass'    → b_join_skew_bypass (bounded hot head: pre-agg
                    map-side + broadcast, hot rows never shuffle);
    - 'aqe_split' → b_join_skew_split (heavy tail: AQE splits
                    oversized partitions at runtime).

    Cost shape: the audit is one |keys|-row count shuffle + two 1-row
    reduces — the same stats pass a warehouse runs once per (table,
    key) and caches; here it runs per call, which is the honest
    uncached form.  The 1-row collect is the bounded driver-side
    scalar the skew family already uses for its hot-key lists.
    tests/test_round12.py asserts the zipfian corpus dispatches to
    'bypass' and the uniform corpus to 'plain' THROUGH this key."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = k.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_n"),
    )
    t8 = (
        k.orderBy(F.desc("n"), "key")
        .limit(8)
        .agg(F.sum("n").cast("bigint").alias("top8_n"))
    )
    audit = (
        tot.crossJoin(F.broadcast(t8))
        .select(
            "n_rows",
            "max_n",
            F.round(F.lit(1000000.0) * F.col("top8_n") / F.col("n_rows"))
            .cast("bigint")
            .alias("top8_share_m"),
        )
        .first()
    )
    verdict = choose_join_strategy(audit, shuffle_partitions=32)
    if verdict == "bypass":
        lane = b_join_skew_bypass(spark, sf_dir)
    elif verdict == "aqe_split":
        lane = b_join_skew_split(spark, sf_dir)
    else:
        lane = _plain_rollup(li, load_table(spark, sf_dir, "orders"))
    return lane.select(
        F.lit(verdict).alias("verdict"), "o_orderstatus", "n_items", "gross"
    )
