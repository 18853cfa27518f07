"""Physical-plan assertions (SURVEY.md §4): each operator should
compile to the plan we'd want at 100 TB — pushdown reaching the scan,
dimension joins broadcast, no accidental cartesian products."""

from __future__ import annotations

from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.plans.explain import assert_in_plan, physical_plan, pushed_filters


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    pf = pushed_filters(df)
    assert "o_orderstatus" in pf, pf


def test_column_pruning_reaches_parquet(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    assert "ReadSchema" in plan
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_dimension_join_is_broadcast(spark, sf_dir):
    from stellarsql_spark.operators.joins import b_join_inner

    assert_in_plan(b_join_inner(spark, sf_dir), "BroadcastHashJoin")


def test_global_topk_uses_take_ordered(spark, sf_dir):
    from stellarsql_spark.operators.sorts import b_topk_global

    assert_in_plan(b_topk_global(spark, sf_dir), "TakeOrderedAndProject")


def test_interval_join_not_nested_loop(spark, sf_dir):
    """The equi-anchored interval join must shuffle on user_id, not
    fall back to a nested-loop cartesian."""
    from stellarsql_spark.operators.joins import b_join_interval

    plan = physical_plan(b_join_interval(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # equi-anchored: any hash/merge join keyed on user_id is acceptable
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), plan


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    import os
    import tempfile

    from stellarsql_spark.sources.io import SCRATCH_ROOT

    o = load_table(spark, sf_dir, "orders")
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=SCRATCH_ROOT) as d:
        out = os.path.join(d, "orders_part")
        o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
        back = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
        plan = physical_plan(back)
        assert "PartitionFilters" in plan
        line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
        assert "o_orderstatus" in line, line


def test_agg_has_partial_aggregation(spark, sf_dir):
    """Group-by compiles to partial (map-side) + final hash aggregate."""
    from stellarsql_spark.operators.aggregates import b_agg_groupby

    plan = physical_plan(b_agg_groupby(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The whole point of bucketed storage: orders⋈lineitem without
    shuffling either side."""
    from stellarsql_spark.sources.bucketed import bucketed_join

    df = bucketed_join(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    # the only Exchange allowed is the post-join aggregation shuffle;
    # nothing between the scans and the join may shuffle
    tree = plan.split("(1) ")[0]
    join_inputs = tree.split("SortMergeJoin")[-1]
    assert "Exchange" not in join_inputs, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_whole_stage_codegen_covers_flagship(spark, sf_dir):
    from stellarsql_spark.operators.aggregates import b_agg_groupby

    df = b_agg_groupby(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    final = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" node prefix == inside a WholeStageCodegen stage
    assert "*(" in final and "isFinalPlan=true" in final, final


def test_tpch_q6_pushes_all_predicates(spark, sf_dir):
    """Q6 is scan+filter+agg only: no join, no shuffle beyond the
    single global-agg exchange, and the date/discount/quantity
    predicates reach the parquet reader."""
    from stellarsql_spark.operators.tpch2 import b_tpch_q6

    df = b_tpch_q6(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan
    pf = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, pf


def test_tpch_q8_broadcasts_all_dims(spark, sf_dir):
    """The 8-table Q8 join tree: part/nation/region/supplier sides
    broadcast (no shuffle of the fact side per dim), and no cartesian
    product sneaks in."""
    from stellarsql_spark.operators.tpch2 import b_tpch_q8

    plan = physical_plan(b_tpch_q8(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan


def test_tpch_q18_semi_join(spark, sf_dir):
    """The IN-subquery compiles to a semi join against the
    pre-aggregated order keys, not a distinct + inner join."""
    from stellarsql_spark.operators.tpch2 import b_tpch_q18

    plan = physical_plan(b_tpch_q18(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_sql_hints_bind_join_strategies(spark, sf_dir):
    """The BROADCAST hint must produce a BroadcastHashJoin for the
    nation dim and the MERGE hint a SortMergeJoin for the fact side —
    hints beat the optimizer's own choice."""
    from stellarsql_spark.operators.sql_surface import b_sql_hints

    plan = physical_plan(b_sql_hints(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_bloom_runtime_filter_injected_and_scoped(spark, sf_dir):
    """The registered bloom key's plan must carry the runtime Bloom
    (`bloom_filter_might_contain` probing the lineitem side), and the
    conf pinning must be SCOPED: the same logical query built without
    the pinned confs keeps a bloom-free plan, so other keys' audited
    plan shapes are untouched."""
    from stellarsql_spark.operators.runtime_filters import (
        b_join_bloom_prune,
        bloom_join,
    )

    pruned = physical_plan(b_join_bloom_prune(spark, sf_dir))
    assert "might_contain" in pruned
    vanilla = physical_plan(bloom_join(spark, sf_dir))
    assert "might_contain" not in vanilla


def test_dpp_runtime_pruning_in_plan(spark, sf_dir):
    """The DPP key's fact scan must carry a dynamic-pruning subquery
    on the partition column — pruning values discovered from the dim
    side at runtime, not present in the query text."""
    from stellarsql_spark.sources.io import b_layout_dpp

    plan = physical_plan(b_layout_dpp(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()
