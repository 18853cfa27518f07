"""Operator edge-case unit tests the oracle matrix under-covers
(SURVEY.md §5.2.3): nulls in join keys, empty groups, rank ties,
as-of tie semantics, timestamp precision."""

from __future__ import annotations

import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table


def test_join_null_keys_dropped(spark):
    """SQL semantics: null join keys never match (not even null=null)."""
    left = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    right = spark.createDataFrame([(1, "x"), (None, "y")], "k int, w string")
    out = left.join(right, "k").collect()
    assert len(out) == 1 and out[0]["k"] == 1


def test_outer_join_preserves_null_key_rows(spark):
    left = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    right = spark.createDataFrame([(1, "x")], "k int, w string")
    out = left.join(right, ["k"], "left").orderBy(F.col("v")).collect()
    assert len(out) == 2
    assert out[1]["w"] is None


def test_empty_group_aggregate(spark):
    df = spark.createDataFrame([], "g string, x double")
    # global agg over empty input: count=0, sum=null
    row = df.agg(F.count("*").alias("n"), F.sum("x").alias("s")).collect()[0]
    assert row["n"] == 0 and row["s"] is None
    # grouped agg over empty input: no rows
    assert df.groupBy("g").agg(F.sum("x")).count() == 0


def test_rank_tie_semantics(spark):
    df = spark.createDataFrame([("a", 1), ("b", 1), ("c", 2)], "k string, v int")
    w = Window.orderBy("v", "k")
    wv = Window.orderBy("v")
    out = {
        r["k"]: (r["rn"], r["rk"], r["dr"])
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rn"),
            F.rank().over(wv).alias("rk"),
            F.dense_rank().over(wv).alias("dr"),
        ).collect()
    }
    assert out["a"] == (1, 1, 1)
    assert out["b"] == (2, 1, 1)  # tie: same rank, unique row_number
    assert out["c"] == (3, 3, 2)  # rank skips, dense_rank doesn't


def test_asof_equal_timestamp_click_matches(spark):
    """DuckDB ASOF `p.ts >= c.ts`: a click at exactly the purchase ts
    must match (our union-timeline orders side=click first on ties)."""
    from stellarsql_spark.operators.joins import b_join_asof

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, ts, 7, "click", 0.0, "{}"),
        (2, ts, 7, "purchase", 1.0, "{}"),  # same instant as the click
        (3, ts - datetime.timedelta(hours=1), 8, "purchase", 1.0, "{}"),  # no prior click
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    import os
    import tempfile

    from stellarsql_spark.sources.io import SCRATCH_ROOT

    events = spark.createDataFrame(rows, schema)
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=SCRATCH_ROOT) as d:
        path = os.path.join(d, "events.parquet")
        events.coalesce(1).write.parquet(path)
        out = b_join_asof(spark, d).collect()
    assert len(out) == 1
    assert out[0]["event_id"] == 2 and out[0]["click_ts"] == ts


def test_events_ts_microsecond_truncation(spark, sf_dir):
    """events.ts is ns in parquet; the catalog must expose µs values
    identical to DuckDB's truncation."""
    import duckdb

    e = load_table(spark, sf_dir, "events").orderBy("event_id").limit(5).collect()
    duck = duckdb.sql(
        f"SELECT ts FROM read_parquet('{sf_dir}/events.parquet') ORDER BY event_id LIMIT 5"
    ).fetchall()
    for spark_row, duck_row in zip(e, duck):
        assert spark_row["ts"] == duck_row[0]


def test_collect_set_sorted_deterministic(spark, sf_dir):
    from stellarsql_spark.operators.aggregates import b_agg_collect

    a = {r["r_name"]: r["nations"] for r in b_agg_collect(spark, sf_dir).collect()}
    b = {r["r_name"]: r["nations"] for r in b_agg_collect(spark, sf_dir).collect()}
    assert a == b
    assert all("," in v for v in a.values())


def test_jaccard_df_cap_is_subset(spark, sf_dir):
    """The skew-guard cap may only DROP candidate pairs (recall loss),
    never invent or rescore them."""
    from stellarsql_spark.pipeline.dedup import b_llm_jaccard

    full = {
        (r["doc1"], r["doc2"]): r["jaccard"] for r in b_llm_jaccard(spark, sf_dir).collect()
    }
    capped = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in b_llm_jaccard(spark, sf_dir, df_cap=50).collect()
    }
    assert set(capped) <= set(full)
    assert all(full[k] == v for k, v in capped.items())


def test_decimal_sum_order_independence(spark, sf_dir):
    """The exact-decimal convention: same result under different
    partitionings (a shuffled double sum would drift in last bits)."""
    li = load_table(spark, sf_dir, "lineitem")
    one = li.coalesce(1).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
    ).collect()[0][0]
    many = li.repartition(16).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
    ).collect()[0][0]
    assert one == many


def test_ivf_ann_recall_floor(spark, sf_dir):
    """IVF with nprobe=3 of 10 cells must recover a meaningful share
    of the exact top-k (loose floor — recall is data-dependent), and
    scores must agree exactly with brute force for shared pairs."""
    from stellarsql_spark.pipeline.similarity import b_llm_cosine_topk
    from stellarsql_spark.pipeline.vectors import b_llm_ann_ivf

    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in b_llm_cosine_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in b_llm_ann_ivf(spark, sf_dir).collect()
    }
    shared = set(exact) & set(ivf)
    assert len(shared) / len(exact) >= 0.2
    assert all(exact[k] == ivf[k] for k in shared)


def test_salted_join_lane_uniformity(spark, sf_dir):
    """Each original (order, lineitem) pair must land in exactly one
    salt lane: salted row count == plain join row count."""
    from stellarsql_spark.catalog import load_table as lt
    from stellarsql_spark.operators.skew import b_join_salted

    o = lt(spark, sf_dir, "orders")
    li = lt(spark, sf_dir, "lineitem")
    plain = o.join(li, o.o_orderkey == li.l_orderkey).count()
    salted_total = b_join_salted(spark, sf_dir).agg(F.sum("n_items")).collect()[0][0]
    assert salted_total == plain


def test_pack_chunks_partition_every_doc(spark, sf_dir):
    """b_llm_pack: chunks partition the corpus — doc counts add up and
    chunk ids are contiguous from 0 within each source."""
    from stellarsql_spark.pipeline.textstats import b_llm_pack
    from stellarsql_spark.catalog import load_table

    out = b_llm_pack(spark, sf_dir).collect()
    n_docs_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_docs_total
    by_source = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r["chunk_id"])
    for src, chunks in by_source.items():
        assert sorted(chunks) == list(range(len(chunks))), src


def test_moments_match_spark_builtins(spark, sf_dir):
    """b_agg_moments' power-sum skew/kurtosis agree numerically with
    Spark's built-in estimators (same population definitions)."""
    from stellarsql_spark.operators.aggregates import b_agg_moments
    from stellarsql_spark.catalog import load_table

    ours = {r["l_returnflag"]: r for r in b_agg_moments(spark, sf_dir).collect()}
    ref = {
        r["l_returnflag"]: r
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.skewness("l_quantity").alias("skew"),
            F.kurtosis("l_quantity").alias("kurt"),
        )
        .collect()
    }
    for flag, r in ours.items():
        assert abs(r["skew_qty"] - ref[flag]["skew"]) < 1e-4
        assert abs(r["kurt_qty"] - ref[flag]["kurt"]) < 1e-4


def test_constraint_enforce_partitions_input(spark, sf_dir):
    """a_constraint_enforce: verdict counts cover supplier + 3 probes."""
    from stellarsql_spark.operators.tier_a import a_constraint_enforce
    from stellarsql_spark.catalog import load_table

    out = {r["verdict"]: r["n_rows"] for r in a_constraint_enforce(spark, sf_dir).collect()}
    n_sup = load_table(spark, sf_dir, "supplier").count()
    assert sum(out.values()) == n_sup + 3
    assert out.get("violates:name_not_null", 0) >= 1
    assert out.get("violates:acctbal_not_null", 0) >= 1


def test_sorted_layout_skips_files(spark, sf_dir):
    """b_layout_sorted_scan's clustered copy really enables file
    skipping: a tight date filter on the sorted layout reads fewer
    files than exist (parquet footer min/max pruning)."""
    import glob

    from stellarsql_spark.catalog import load_table
    from stellarsql_spark.sources.io import _scratch

    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate", "l_extendedprice")
    out = _scratch("layout_test")
    li.repartitionByRange(8, "l_shipdate").sortWithinPartitions("l_shipdate").write.mode(
        "overwrite"
    ).parquet(out)
    n_files = len(glob.glob(f"{out}/part-*.parquet"))
    assert n_files >= 4
    filtered = spark.read.parquet(out).where(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    # the clustering invariant that enables footer-stat skipping: one
    # month of a ~6-year shipdate range lands in a small fraction of
    # the sorted files (vs all of them in an unsorted layout)
    touched = filtered.select(F.input_file_name()).distinct().count()
    assert 1 <= touched <= max(2, n_files // 3), (touched, n_files)
