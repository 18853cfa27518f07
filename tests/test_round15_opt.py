"""Round-15 OPTIMIZATION tests: contracts for this round's changes —
the Q3 size chooser's two lanes are result-identical and the driver
tiers stay on the measured base-optimal lane, the corpus-build
replication guard fails loudly past the packed-long bound, and the
LPA-converged oracle's AS MATERIALIZED pin changes evaluation order
only (same rows).
"""

from __future__ import annotations

import duckdb
import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
SF_BASE = "/root/testdata/sf0.1"


class TestQ3Chooser:
    def test_chooser_thresholds(self):
        from stellarsql_spark.operators.tpch import Q3_PREAGG_BYTES, choose_q3_strategy

        assert choose_q3_strategy(0) == "base"
        assert choose_q3_strategy(Q3_PREAGG_BYTES - 1) == "base"
        assert choose_q3_strategy(Q3_PREAGG_BYTES) == "preagg"
        assert choose_q3_strategy(10 * Q3_PREAGG_BYTES) == "preagg"

    def test_driver_tiers_stay_on_base_lane(self):
        """The driver benches sf0.1 and oracles sf0.001/sf0.01 — all
        far below the 128 MiB bar, so the registered key keeps the
        measured base-optimal plan byte-identically at every tier the
        driver touches (the r14 A/B showed preagg LOSES ~45% there)."""
        from stellarsql_spark.operators.tpch import (
            Q3_PREAGG_BYTES,
            _lineitem_bytes,
            choose_q3_strategy,
        )

        for d in (SF_SMALL, SF_MED, SF_BASE):
            n = _lineitem_bytes(d)
            assert 0 < n < Q3_PREAGG_BYTES
            assert choose_q3_strategy(n) == "base"

    def test_lanes_result_equal_on_corpus(self, spark):
        """Both lanes produce the identical 10-row result set on the
        real corpus (exceptAll both ways — doubles compared
        bit-exactly), so the ≥128 MiB flip cannot change what the
        registered key computes."""
        from stellarsql_spark.operators.tpch import _q3

        base = _q3(spark, SF_MED, "base")
        pre = _q3(spark, SF_MED, "preagg")
        rows_b = base.collect()
        rows_p = pre.collect()
        # LIMIT 10 over a deterministic total order: compare as
        # ordered lists, not just sets
        assert [tuple(r) for r in rows_b] == [tuple(r) for r in rows_p]
        assert len(rows_b) == 10
        df_b = spark.createDataFrame(rows_b, base.schema)
        df_p = spark.createDataFrame(rows_p, pre.schema)
        assert df_b.exceptAll(df_p).count() == 0
        assert df_p.exceptAll(df_b).count() == 0

    def test_preagg_lane_aggregates_before_join(self, spark):
        """The preagg lane's plan carries the revenue aggregate BELOW
        the orderkey join (guide §2.3) — the structural property the
        ≥30× win was attributed to."""
        from stellarsql_spark.operators.tpch import _q3
        from stellarsql_spark.plans.explain import physical_plan

        plan = physical_plan(_q3(spark, SF_MED, "preagg"))
        # partial_sum over the cents expression must appear (pre-agg
        # exists) and the join above it must not regroup by orderdate
        # (the post-join groupBy is gone: orderkey is unique after the
        # pre-agg, so the only HashAggregate keys are [l_orderkey])
        assert "partial_sum" in plan
        assert "Keys [1]: [l_orderkey" in plan


class TestTopkJoinChooser:
    def test_chooser_thresholds(self):
        from stellarsql_spark.operators.sorts import TOPK_SHJ_BYTES, choose_topk_join

        assert choose_topk_join(0) == "posexplode_bhj"
        assert choose_topk_join(TOPK_SHJ_BYTES - 1) == "posexplode_bhj"
        assert choose_topk_join(TOPK_SHJ_BYTES) == "array_shj"

    def test_driver_tiers_stay_on_broadcast_lane(self):
        """The driver's headline (sf0.1) and oracle (sf0.001/sf0.01)
        tiers all have customer far below the 10 MB broadcast
        threshold, so the registered key keeps the r14 plan
        byte-identically everywhere the driver times or hashes it."""
        from stellarsql_spark.catalog import table_bytes
        from stellarsql_spark.operators.sorts import choose_topk_join

        for d in (SF_SMALL, SF_MED, SF_BASE):
            n = table_bytes(d, "customer")
            assert 0 < n < 10 << 20
            assert choose_topk_join(n) == "posexplode_bhj"

    def test_lanes_result_equal_on_corpus(self, spark):
        """Both join lanes produce the identical result set on the
        real corpus (exceptAll both ways), so the ≥10 MB flip cannot
        change what the registered key computes."""
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.operators.sorts import topk3_packed

        c = load_table(spark, SF_MED, "customer")
        o = load_table(spark, SF_MED, "orders")
        bhj = topk3_packed(o, c, repartition_key=True, join="posexplode_bhj")
        shj = topk3_packed(o, c, repartition_key=True, join="array_shj")
        assert bhj.schema == shj.schema
        assert bhj.exceptAll(shj).count() == 0
        assert shj.exceptAll(bhj).count() == 0
        assert bhj.count() == shj.count() > 0

    def test_shj_lane_joins_before_explode(self, spark):
        """The array_shj lane's plan carries the customer join BELOW
        the explode (3× fewer probe rows) as a ShuffledHashJoin —
        the structural properties the 300× −26.6% was attributed to."""
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.operators.sorts import topk3_packed
        from stellarsql_spark.plans.explain import physical_plan

        c = load_table(spark, SF_MED, "customer")
        o = load_table(spark, SF_MED, "orders")
        plan = physical_plan(topk3_packed(o, c, repartition_key=True, join="array_shj"))
        assert "ShuffledHashJoin" in plan
        # Generate (the explode) must sit ABOVE the join: formatted
        # plans number operators bottom-up (leaf = 1), so the explode
        # being closer to the root means its number is LARGER
        gen_line = next(l for l in plan.splitlines() if "Generate" in l and "(" in l)
        join_line = next(l for l in plan.splitlines() if "ShuffledHashJoin" in l)
        num = lambda l: int(l.split("(")[1].split(")")[0])  # noqa: E731
        assert num(gen_line) > num(join_line)


class TestReplicationBoundGuard:
    def test_factor_past_packed_bound_raises(self, spark):
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.scale import STRIDE, replicate_table

        df = load_table(spark, SF_SMALL, "orders").limit(1)
        bad = (1 << 34) // STRIDE + 1  # first factor whose shifted keys overflow
        with pytest.raises(ValueError, match="packed-long"):
            replicate_table(df, "orders", bad)
        # the largest safe factor builds a frame without raising
        ok = replicate_table(df, "orders", bad - 1)
        assert ok is not None

    def test_bench_factors_are_safe(self):
        """Every bench tier's factor, read from its tier table, so a new
        tier cannot bypass the packed-long bound."""
        import bench
        from stellarsql_spark.scale import STRIDE

        for tier in bench.TIERS:
            assert tier.factor * STRIDE < 1 << 34


class TestLpaPackedArgmax:
    def test_adversarial_parity_vs_window(self, spark):
        """The packed-max argmax (r15 promotion) must match the window
        form — (count DESC, lbl ASC), ties to the smaller label — on
        an adversarial vote frame: count ties, singleton votes, labels
        at 0 and at the 2^34−1 encoding edge."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from stellarsql_spark.operators.graph import _lpa_argmax

        edge = (1 << 34) - 1
        votes = [
            # node 1: lbl 7 twice vs lbl 3 twice -> tie, smaller wins (3)
            (1, 7), (1, 7), (1, 3), (1, 3),
            # node 2: lbl 5 three times beats lbl 0 twice
            (2, 5), (2, 5), (2, 5), (2, 0), (2, 0),
            # node 3: singleton votes only -> min lbl (0)
            (3, edge), (3, 0), (3, 42),
            # node 4: the encoding edge lbl alone
            (4, edge), (4, edge),
        ]
        df = spark.createDataFrame(votes, "node long, lbl long")
        w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("lbl"))
        expect = {
            (r.node, r.lbl)
            for r in (
                df.groupBy("node", "lbl")
                .agg(F.count("*").alias("n"))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("node", "lbl")
                .collect()
            )
        }
        got = {(r.node, r.lbl) for r in _lpa_argmax(df).collect()}
        assert got == expect == {(1, 3), (2, 5), (3, 0), (4, edge)}

    def test_round1_min_shortcut_assumption(self, spark):
        """Round 1's min(lbl) shortcut assumes the bidirectional pair
        set is DISTINCT — edges is a distinct u<v set and the reversed
        half is disjoint from it.  Assert that on the real corpus."""
        from stellarsql_spark.operators.graph import _minute_edges
        from pyspark.sql import functions as F

        edges = _minute_edges(spark, SF_MED)
        bidir = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        assert bidir.count() == bidir.distinct().count()


class TestLpaOraclePin:
    def test_every_cte_is_materialized(self):
        from stellarsql_spark.operators.graph import LP_CONV_CAP, _lpa_conv_oracle

        sql = _lpa_conv_oracle()
        assert " AS (" not in sql, sql  # every CTE got the pin
        names = ["b", "edges", "bidir"] + [
            f"{p}{k}" for k in range(1, LP_CONV_CAP + 1) for p in ("i", "m")
        ]
        for name in names:
            assert f"{name} AS MATERIALIZED (" in sql

    def test_pin_preserves_rows(self):
        """MATERIALIZED is an evaluation hint: pinned and unpinned
        texts return the same community histogram on the real
        corpus."""
        from stellarsql_spark.operators.graph import _lpa_conv_oracle

        pinned = _lpa_conv_oracle()
        unpinned = pinned.replace(" AS MATERIALIZED (", " AS (")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_MED}/events.parquet')"
        )
        a = sorted(con.execute(pinned).fetchall())
        b = sorted(con.execute(unpinned).fetchall())
        con.close()
        assert a == b
        assert len(a) > 0


class TestBenchTrialShed:
    """The bench scheduler: a tier may use (remaining budget) ÷
    (remaining tiers) of ``bench.BUDGET_S``.  Past its share a tier
    stops STARTING trials while every key still gets its warm run plus
    one paired Spark/DuckDB trial, and the cut is recorded under
    trial_shed.  No Spark and no real sleeps: the prepared callable is a
    counter that advances a fake budget clock, so the exact number of
    timed executions is asserted."""

    NAMES = ["k1", "k2"]

    def _interleave(self, monkeypatch, share_end):
        from types import SimpleNamespace

        import bench

        clock = [0.0]
        calls = dict.fromkeys(self.NAMES, 0)

        def counting_prepare(spec, spark, sf_dir):
            def execute():
                calls[spec.name] += 1
                clock[0] += 10.0

            return execute

        monkeypatch.setattr(bench, "prepare", counting_prepare)
        monkeypatch.setattr(bench, "_elapsed", lambda: clock[0])
        specs = {
            n: SimpleNamespace(name=n, oracle="SELECT 42", tags=())
            for n in self.NAMES
        }
        s, d, spread, shed = bench._interleaved_times(
            None, SF_SMALL, specs, self.NAMES, 3, share_end
        )
        for n in self.NAMES:
            assert 0.0 <= s[n] < float("inf")   # every key reports a min
            assert 0.0 <= d[n] < float("inf")   # its paired duck trial ran
        return calls, shed

    def test_no_budget_pressure_keeps_full_min_of_n(self, monkeypatch):
        import bench

        calls, shed = self._interleave(monkeypatch, share_end=None)
        # warm + min-of-(3 + the sub-second extension) for every key
        full = 1 + 3 + bench._SUBSEC_EXTRA
        assert calls == {"k1": full, "k2": full}
        assert shed == []

    def test_budget_out_between_keys_sheds_later_keys(self, monkeypatch):
        import bench

        # k1 runs warm + 5 trials (clock 10..60) and crosses the share's
        # end at 55 on its last trial; k2 starts past it.
        calls, shed = self._interleave(monkeypatch, share_end=55.0)
        assert calls == {"k1": 1 + 3 + bench._SUBSEC_EXTRA, "k2": 1 + 1}
        assert shed == ["k2"]

    def test_tier_with_no_budget_left_is_skipped(self, monkeypatch, tmp_path):
        import bench

        clock = [bench.BUDGET_S - 90.0]
        monkeypatch.setattr(bench, "_elapsed", lambda: clock[0])
        tiers = [
            bench.TIERS[0]._replace(key=f"t{i}", factor=1) for i in range(3)
        ]
        ran = []

        def run(tier, share_end):
            ran.append((tier.key, share_end))
            clock[0] += 100.0  # overruns the whole remaining budget
            return {"queries": {}}

        out = bench.run_tiers(tiers, run, SF_SMALL, str(tmp_path))
        # the first tier's share is 90 s ÷ 3 tiers
        assert ran == [("t0", bench.BUDGET_S - 60.0)]
        assert out == {
            "t0": {
                "queries": {},
                "clock_s": {"start": bench.BUDGET_S - 90, "share": 30, "wall": 100},
            },
            "t1": {"skipped": "time budget"},
            "t2": {"skipped": "time budget"},
        }

    def test_compact_line_carries_ts(self):
        import bench

        blk = {
            "floor": {"shuffle": 0.1},
            "floor_ratio": 1.0,
            "load": 1.0,
            "queries": {"b_agg_groupby": 1.0},
            "ratio_vs_duckdb": {"b_agg_groupby": 1.0},
            "trial_shed": ["b_agg_groupby"],
        }
        result = {
            "metric": "m", "value": 1.0, "unit": "sec",
            "queries": {}, "sf": "x", "floor": {"shuffle": 0.1},
            "scale_probe_1000": blk,
        }
        line = bench._compact(result)
        import json as _json

        out = _json.loads(line)
        assert out["scale"]["x1000"]["ts"] == ["grp"]
