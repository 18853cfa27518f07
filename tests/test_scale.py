"""Scaled-corpus synthesis (stellarsql_spark/scale.py): the 10× bench
probe is only meaningful if replication preserves per-replica join
structure, so pin that contract at factor 2 on the small corpus."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.scale import STRIDE, ensure_scaled_corpus, replicate_table

FACTOR = 2


def test_replicas_are_disjoint_and_complete(spark, sf_dir):
    base = load_table(spark, sf_dir, "orders")
    scaled = replicate_table(base, "orders", FACTOR)
    n = base.count()
    assert scaled.count() == FACTOR * n
    # keys of replica i live in [i*STRIDE, i*STRIDE + STRIDE)
    per_replica = (
        scaled.groupBy((F.col("o_orderkey") / STRIDE).cast("int").alias("r"))
        .count()
        .collect()
    )
    assert {(r["r"], r["count"]) for r in per_replica} == {(i, n) for i in range(FACTOR)}


def test_join_structure_scales_linearly(spark, sf_dir, tmp_path):
    """Each replica joins only with itself: a fact⋈dim equi-join over
    the scaled corpus must yield exactly factor× the base matches."""
    out = ensure_scaled_corpus(spark, sf_dir, FACTOR, out_root=str(tmp_path))
    base_matches = (
        load_table(spark, sf_dir, "orders")
        .join(load_table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .count()
    )
    scaled_matches = (
        load_table(spark, out, "orders")
        .join(load_table(spark, out, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .count()
    )
    assert scaled_matches == FACTOR * base_matches
    # dimensions are copied once, unshifted
    assert load_table(spark, out, "nation").count() == load_table(spark, sf_dir, "nation").count()
    # events keep a readable timestamp column after the round trip
    assert dict(load_table(spark, out, "events").dtypes)["ts"] == "timestamp"
    # a second call reuses the corpus: same directory, marker untouched
    marker = os.path.join(out, "_SCALED_DONE")
    mtime = os.stat(marker).st_mtime_ns
    assert ensure_scaled_corpus(spark, sf_dir, FACTOR, out_root=str(tmp_path)) == out
    assert os.stat(marker).st_mtime_ns == mtime
