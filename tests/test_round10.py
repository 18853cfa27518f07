"""Round-10 tests: prefix hardening, the served groupby lineage, the
wide-moment keys, the 1part plan gate, the key-skew audit and the
multi-batch stream run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestPrefixHardening:
    def test_collision_guard_rejects_clashing_names(self, spark):
        """A sums out-name or row_number_as that collides with an input
        column (or a reserved internal) must fail loudly at the call
        site, not emit ambiguous duplicate columns downstream."""
        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
        with pytest.raises(ValueError, match="collide"):
            ordered_running(df, [F.col("id")], {"v": F.col("v")})
        with pytest.raises(ValueError, match="collide"):
            ordered_running(
                df, [F.col("id")], {"s": F.col("v")}, row_number_as="id"
            )
        with pytest.raises(ValueError, match="collide"):
            ordered_running(
                df, [F.col("id")], {"__prefix_pid": F.col("v")}
            )

    def test_total_count_matches_without_rescan(self, spark):
        """total_count_as returns the exact row count, derived from the
        npart-row partition totals rather than a second input scan."""
        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(777).select(
            F.col("id"), (F.col("id") % 13).alias("v")
        )
        out = ordered_running(
            df,
            [F.col("v"), F.col("id")],
            {"rs": F.col("v")},
            row_number_as="rn",
            total_count_as="n_total",
        )
        rows = out.collect()
        assert len(rows) == 777
        assert all(r["n_total"] == 777 for r in rows)

    def test_lineage_is_truncated(self, spark):
        """The partitioned frame must be pinned by lineage truncation
        (localCheckpoint), so a recompute through fresh range-boundary
        sampling is impossible — the r9 ADVICE recompute-drift class."""
        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
        out = ordered_running(df, [F.col("v"), F.col("id")], {"rs": F.col("v")})
        out.collect()
        # the logical plan of the result must bottom out in a
        # checkpointed relation, not re-derive from the range source
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan


class TestGroupbyServed:
    def test_served_equals_plain(self, spark):
        """The served flagship must be value-identical to the plain
        recompute — SUM-of-partials distributes over the day rollup
        and the final double arithmetic is expression-identical."""
        from stellarsql_spark.operators.aggregates import b_agg_groupby
        from stellarsql_spark.sources.bucketed import b_agg_groupby_served

        plain = sorted(
            tuple(r) for r in b_agg_groupby(spark, SF).collect()
        )
        served = sorted(
            tuple(r) for r in b_agg_groupby_served(spark, SF).collect()
        )
        assert served == plain

    def test_rollup_is_day_keyed_and_small(self, spark):
        """The maintained artifact keeps the day key (serving-time
        cutoffs stay answerable) and is |days|x|groups|-sized."""
        from stellarsql_spark.sources.bucketed import ensure_pricing_rollup

        d = ensure_pricing_rollup(spark, SF)
        ru = spark.read.parquet(d)
        assert {"l_shipdate", "l_returnflag", "l_linestatus"} <= set(ru.columns)
        n = ru.count()
        days = ru.select("l_shipdate").distinct().count()
        assert n <= days * 6  # at most |days| x (flag,status) combos


class TestWideMoments:
    """r9 VERDICT #5: the BIGINT-headroom debt graduated into keys —
    the past-2^63 cases run on the SHIPPED wide keys themselves,
    differentially against DuckDB on the same synthetic parquet."""

    def _duck(self, sql, d):
        import duckdb

        con = duckdb.connect()
        for t in ("events", "orders"):
            p = os.path.join(d, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        try:
            return con.execute(sql).fetchall()
        finally:
            con.close()

    def test_stl_anomaly_wide_past_int64(self, spark, tmp_path):
        """A revenue stream whose residuals exceed 2^63: the wide key
        must agree with DuckDB's HUGEINT oracle exactly, and at least
        one emitted residual must actually be past int64 (proving the
        test exercises the widened range, not just the code path)."""
        import numpy as np
        import pandas as pd

        from stellarsql_spark.operators.timeseries import (
            _STL_ANOM_WIDE_ORACLE,
            b_ts_stl_anomaly_wide,
        )

        days = 70
        base = pd.Timestamp("2024-01-01")
        rows = []
        for i in range(days):
            # weekly cycle around $1e11/day, two colossal spikes
            price = 1.0e11 + 2.0e10 * (i % 7)
            if i in (30, 45):
                price += 5.0e13  # ~5e15 cents over trend -> resid ~5e21
            rows.append(
                {
                    "o_orderkey": i,
                    "o_custkey": i % 5,
                    "o_orderstatus": "F",
                    "o_totalprice": price,
                    "o_orderdate": base + pd.Timedelta(days=i),
                }
            )
        df = pd.DataFrame(rows)
        df["o_orderdate"] = df["o_orderdate"].astype("datetime64[us]")
        d = str(tmp_path)
        df.to_parquet(os.path.join(d, "orders.parquet"))

        got = sorted(
            (r["epoch_d"], r["x_c"], r["resid_m"], r["med_m"], r["mad_m"])
            for r in b_ts_stl_anomaly_wide(spark, d).collect()
        )
        want = sorted(tuple(r) for r in self._duck(_STL_ANOM_WIDE_ORACLE, d))
        assert got == want
        assert len(got) >= 2  # the spikes were detected
        assert max(abs(int(r[2])) for r in got) > 2**63  # genuinely wide

    def test_assortativity_wide_past_int64(self, spark, tmp_path):
        """A star co-occurrence graph whose Σdeg² over edge ends
        exceeds 2^63 (hub degree ~2.1e6): the wide key must agree with
        DuckDB's HUGEINT oracle exactly and sxx must be past int64."""
        import numpy as np
        import pandas as pd

        from stellarsql_spark.operators.graph import (
            _ASSORT_WIDE_ORACLE,
            b_graph_assortativity_wide,
        )

        d_hub = 2_100_000  # d^3 + d ~ 9.26e18 > 2^63
        n = d_hub
        # bucket i = (event_type f"t{i}", same hour): {hub 0, leaf i+1}
        ev = pd.DataFrame(
            {
                "event_id": np.arange(2 * n, dtype=np.int64),
                "ts": np.full(
                    2 * n, np.datetime64("2024-01-01T00:00:00", "us")
                ),
                "user_id": np.concatenate(
                    [
                        np.zeros(n, dtype=np.int64),
                        np.arange(1, n + 1, dtype=np.int64),
                    ]
                ),
                "event_type": np.tile(
                    np.char.add("t", np.arange(n).astype(str)), 2
                ),
                "value": np.zeros(2 * n),
            }
        )
        d = str(tmp_path)
        ev.to_parquet(os.path.join(d, "events.parquet"))

        got = [tuple(r) for r in b_graph_assortativity_wide(spark, d).collect()]
        want = [tuple(r) for r in self._duck(_ASSORT_WIDE_ORACLE, d)]
        assert got == want
        assert len(got) == 1
        assert int(got[0][3]) > 2**63  # sxx genuinely past int64


class TestOnepartGate:
    """r9 VERDICT #6: the 1part plan-audit column is a hard gate —
    an injected data-sized global window must go red."""

    def test_injected_global_window_is_flagged(self, spark):
        """A fabricated spec whose plan runs a global (un-partitioned)
        window over a data-sized input must trip the ONEPART flag
        through the same audit path preflight runs."""
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from pyspark.sql import Window

        from tools.plan_audit import audit_one, onepart_allowlist

        class BadSpec:
            tags = ()

            @staticmethod
            def builder(spark, sf_dir):
                from stellarsql_spark.catalog import load_table

                li = load_table(spark, sf_dir, "lineitem")
                w = Window.orderBy("l_orderkey", "l_linenumber").rowsBetween(
                    Window.unboundedPreceding, 0
                )
                return li.select(
                    "l_orderkey", F.sum("l_extendedprice").over(w).alias("rs")
                )

        allow = onepart_allowlist()
        counts, flags = audit_one(
            "b_injected_global_window", BadSpec, spark, SF, allow=allow
        )
        assert counts["single"] >= 1
        assert any(f.startswith("ONEPART") for f in flags)

    def test_count_increase_on_allowlisted_key_is_flagged(self):
        """A regression that ADDS a SinglePartition exchange to an
        already-allowlisted key must also go red."""
        from tools.plan_audit import onepart_allowlist, onepart_violation

        allow = onepart_allowlist()
        key = "b_ts_ewma"  # allowlisted at n=1 (days)
        assert allow[key]["n"] == 1
        assert onepart_violation(key, 1, allow) is None
        assert onepart_violation(key, 2, allow) is not None
        assert onepart_violation("b_brand_new_key", 1, allow) is not None
        assert onepart_violation("b_brand_new_key", 0, allow) is None

    def test_registry_is_clean(self, spark):
        """Spot-check: the shipped keys with the largest allowlisted
        counts compile to exactly their allowlisted counts today."""
        from stellarsql_spark.registry import all_specs
        from tools.plan_audit import audit_one, onepart_allowlist

        allow = onepart_allowlist()
        specs = all_specs()
        for key in ("b_quality_freshness", "b_ev_rfm", "b_win_ntile"):
            counts, flags = audit_one(key, specs[key], spark, SF, allow=allow)
            assert not [f for f in flags if f.startswith("ONEPART")], (key, flags)


class TestKeyskewAudit:
    def test_gini_orders_skewed_above_uniform(self, spark, tmp_path):
        """On a one-hot-key table the audit must report a much higher
        Gini and max share than on a uniform table — the property the
        join-strategy decision rests on."""
        import numpy as np
        import pandas as pd

        from stellarsql_spark.operators.quality import b_quality_keyskew

        d_uni = tmp_path / "uni"
        d_skw = tmp_path / "skw"
        d_uni.mkdir()
        d_skw.mkdir()
        uni = pd.DataFrame(
            {"l_orderkey": np.repeat(np.arange(500, dtype=np.int64), 4)}
        )
        skw = pd.DataFrame(
            {
                "l_orderkey": np.concatenate(
                    [
                        np.zeros(1600, dtype=np.int64),
                        np.repeat(np.arange(1, 401, dtype=np.int64), 1),
                    ]
                )
            }
        )
        uni.to_parquet(d_uni / "lineitem.parquet")
        skw.to_parquet(d_skw / "lineitem.parquet")
        ru = b_quality_keyskew(spark, str(d_uni)).first()
        rs = b_quality_keyskew(spark, str(d_skw)).first()
        assert ru["gini_m"] == 0  # perfectly uniform
        assert rs["gini_m"] > 700_000  # one key owns 80%
        assert rs["max_share_m"] == 800_000
        assert ru["max_share_m"] == 2_000


class TestMultibatchRun:
    def test_four_real_microbatches_fold_to_batch_answer(self, spark):
        """The multibatch key must (a) really split into 4 time-ordered
        files, (b) really run ≥4 micro-batches at mf=1, and (c) fold
        cross-batch state to exactly the batch aggregate."""
        import glob
        import os

        from stellarsql_spark.catalog import load_table, table_path
        from stellarsql_spark.streaming.parity import _multibatch_dir
        from stellarsql_spark.streaming.runtime import events_stream_from_dir
        from stellarsql_spark.streaming.windows import tumbling_hourly

        d = _multibatch_dir(spark, SF)
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        assert len(files) == 4
        mtimes = [os.stat(f).st_mtime_ns for f in files]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4

        src = events_stream_from_dir(
            spark, d, schema_src=table_path(SF, "events"), max_files_per_trigger=1
        )
        streamed = tumbling_hourly(src.withWatermark("ts", "2 hours"))
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        name = "mb_sink_test"
        q = (
            streamed.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
            got = sorted(
                tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
            )
        finally:
            q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        assert n_batches >= 4  # one per quartile file

        want = sorted(
            tuple(r)
            for r in tumbling_hourly(load_table(spark, SF, "events")).collect()
        )
        assert got == want
