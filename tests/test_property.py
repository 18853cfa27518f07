"""Property-based oracle parity (SURVEY.md §5.2.4): random small
frames through the same operator in Spark and DuckDB must agree —
catches semantics drift beyond the fixed corpus."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", None]),
        st.integers(min_value=-1000, max_value=1000),
        st.booleans(),
    ),
    min_size=0,
    max_size=30,
)

_SQL = """
SELECT g, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
       CAST(MIN(x) AS BIGINT) AS mn, CAST(MAX(x) AS BIGINT) AS mx
FROM t WHERE keep GROUP BY g
"""


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_groupby_agg_parity(spark, rows):
    pdf = pd.DataFrame(rows, columns=["g", "x", "keep"]).astype(
        {"x": "int64", "keep": "bool"}
    )
    pdf["g"] = pdf["g"].astype(object)
    sdf = spark.createDataFrame(pdf, schema="g string, x long, keep boolean")
    sdf.createOrReplaceTempView("t")
    spark_out = spark.sql(_SQL).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    duck_out = con.execute(_SQL).df()
    key = ["g", "n", "sx", "mn", "mx"]
    norm = lambda df: sorted(
        (
            "\0null" if pd.isna(r["g"]) else r["g"],
            int(r["n"]),
            int(r["sx"]),
            int(r["mn"]),
            int(r["mx"]),
        )
        for _, r in df[key].iterrows()
    )
    assert norm(spark_out) == norm(duck_out)


pair_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=20,
)

_JOIN_SQL = """
SELECT a.k AS k, a.v AS av, b.v AS bv
FROM ta a LEFT JOIN tb b ON a.k = b.k
"""


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=pair_strategy, right=pair_strategy)
def test_left_join_null_key_parity(spark, left, right):
    """NULL join keys must never match, and unmatched left rows keep a
    NULL right side — identical in both engines on random inputs."""
    lp = pd.DataFrame(left, columns=["k", "v"]).astype({"k": "object", "v": "int64"})
    rp = pd.DataFrame(right, columns=["k", "v"]).astype({"k": "object", "v": "int64"})
    spark.createDataFrame(lp, schema="k long, v long").createOrReplaceTempView("ta")
    spark.createDataFrame(rp, schema="k long, v long").createOrReplaceTempView("tb")
    spark_out = spark.sql(_JOIN_SQL).toPandas()
    con = duckdb.connect()
    con.register("ta", lp)
    con.register("tb", rp)
    duck_out = con.execute(_JOIN_SQL).df()
    norm = lambda df: sorted(
        (
            -999 if pd.isna(r["k"]) else int(r["k"]),
            int(r["av"]),
            -999 if pd.isna(r["bv"]) else int(r["bv"]),
        )
        for _, r in df.iterrows()
    )
    assert norm(spark_out) == norm(duck_out)


_WIN_SQL = """
SELECT k, v,
       ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, rid) AS rn,
       RANK() OVER (PARTITION BY k ORDER BY v) AS rk,
       DENSE_RANK() OVER (PARTITION BY k ORDER BY v) AS drk
FROM t
"""


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=pair_strategy)
def test_window_rank_parity(spark, rows):
    """Ranking with ties (rank vs dense_rank) and a unique tiebreak for
    row_number must agree across engines on random inputs."""
    pdf = pd.DataFrame(rows, columns=["k", "v"]).astype({"k": "object", "v": "int64"})
    pdf["k"] = pdf["k"].map(lambda x: -1 if pd.isna(x) else int(x))
    pdf["rid"] = range(len(pdf))
    pdf = pdf.astype({"k": "int64", "rid": "int64"})
    spark.createDataFrame(pdf, schema="k long, v long, rid long").createOrReplaceTempView("t")
    spark_out = spark.sql(_WIN_SQL).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    duck_out = con.execute(_WIN_SQL).df()
    norm = lambda df: sorted(
        (int(r["k"]), int(r["v"]), int(r["rn"]), int(r["rk"]), int(r["drk"]))
        for _, r in df.iterrows()
    )
    assert norm(spark_out) == norm(duck_out)


_SETOP_SQL = """
SELECT v FROM ta EXCEPT ALL SELECT v FROM tb
"""


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(st.integers(min_value=0, max_value=5), max_size=15),
    right=st.lists(st.integers(min_value=0, max_value=5), max_size=15),
)
def test_except_all_multiset_parity(spark, left, right):
    """EXCEPT ALL is multiset difference — occurrence counts matter.
    Random multisets must agree across engines."""
    lp = pd.DataFrame({"v": pd.Series(left, dtype="int64")})
    rp = pd.DataFrame({"v": pd.Series(right, dtype="int64")})
    spark.createDataFrame(lp, schema="v long").createOrReplaceTempView("ta")
    spark.createDataFrame(rp, schema="v long").createOrReplaceTempView("tb")
    spark_out = sorted(int(r["v"]) for r in spark.sql(_SETOP_SQL).collect())
    con = duckdb.connect()
    con.register("ta", lp)
    con.register("tb", rp)
    duck_out = sorted(int(r[0]) for r in con.execute(_SETOP_SQL).fetchall())
    assert spark_out == duck_out


# --- integer-cents vs decimal money convention equivalence ----------
#
# functions/exact.py ships two exact-sum conventions for 2-decimal
# money doubles; hot paths use cents (round(x*100) as BIGINT). This
# property pins their equivalence — and cross-engine agreement of the
# cents formula — on random 2-decimal inputs, so a future corpus or
# convention change that breaks the "values are exact 2-decimal"
# premise fails here, not at the driver.

money_strategy = st.lists(
    st.integers(min_value=-10_000_000, max_value=10_000_000).map(lambda c: c / 100.0),
    min_size=1,
    max_size=50,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=money_strategy)
def test_cents_sum_equals_decimal_sum_and_duckdb(spark, vals):
    from stellarsql_spark.functions.exact import csum, dsum, sql_csum, sql_dsum

    pdf = pd.DataFrame({"x": pd.Series(vals, dtype="float64")})
    sdf = spark.createDataFrame(pdf, schema="x double")
    got = sdf.agg(
        csum("x").alias("c"), dsum("x").alias("d")
    ).collect()[0]
    assert got.c == got.d  # the two Spark conventions agree exactly
    con = duckdb.connect()
    con.register("t", pdf)
    dc, dd = con.execute(
        f"SELECT {sql_csum('x')} AS c, {sql_dsum('x')} AS d FROM t"
    ).fetchone()
    con.close()
    assert got.c == dc == dd  # and both engines agree bit-for-bit


# cents() skips Spark's per-row BigDecimal round (rint, with round kept
# for exact ties); it must still return what round returned on any
# finite double, ties k + 0.5 and 2-dp money included.
kernel_strategy = st.lists(
    st.one_of(
        st.floats(min_value=-1e16, max_value=1e16, allow_nan=False),
        st.integers(min_value=-(2**51), max_value=2**51).map(lambda k: k + 0.5),
        st.integers(min_value=-(10**11), max_value=10**11).map(lambda c: c / 100.0),
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=kernel_strategy)
def test_cents_kernel_matches_spark_round(spark, vals):
    from stellarsql_spark.functions.exact import cents, round_half_up

    sdf = spark.createDataFrame(pd.DataFrame({"x": vals}), schema="x double")
    x = F.col("x")
    rows = sdf.select(
        F.round(x).eqNullSafe(round_half_up(x)).alias("same_x"),
        F.round(x * 100).eqNullSafe(round_half_up(x * 100)).alias("same_d"),
        F.round(x * 100).cast("bigint").eqNullSafe(cents("x")).alias("same_c"),
    ).collect()
    assert all(all(r) for r in rows), [v for v, r in zip(vals, rows) if not all(r)]


# --- Round-8 second-half property tests ---------------------------------------


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # user
            st.integers(min_value=0, max_value=60),  # active day
        ),
        min_size=0,
        max_size=40,
    )
)
def test_wau_delta_sweep_pure(days):
    """The C228 delta-sweep construction (islands split at gap >= 8,
    +1 at start, -1 at last+7, prefix sum) equals the naive rolling
    7-day distinct count for arbitrary user-day sets — the pure-Python
    mirror of the Spark plan, run wide by hypothesis."""
    ud = sorted(set(days))
    if not ud:
        return
    by_user: dict[int, list[int]] = {}
    for u, d in ud:
        by_user.setdefault(u, []).append(d)
    deltas: dict[int, int] = {}
    for u, ds in by_user.items():
        ds.sort()
        start = ds[0]
        prev = ds[0]
        for d in ds[1:]:
            if d - prev >= 8:
                deltas[start] = deltas.get(start, 0) + 1
                deltas[prev + 7] = deltas.get(prev + 7, 0) - 1
                start = d
            prev = d
        deltas[start] = deltas.get(start, 0) + 1
        deltas[prev + 7] = deltas.get(prev + 7, 0) - 1
    all_days = sorted({d for _, d in ud})
    level, i, cur = {}, 0, 0
    for d in sorted(set(deltas) | set(all_days)):
        cur += deltas.get(d, 0)
        level[d] = cur
    for d in all_days:
        naive = len({u for u, a in ud if d - 6 <= a <= d})
        assert level[d] == naive, (d, ud)


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    d1=st.integers(min_value=0, max_value=40000),
    span=st.integers(min_value=0, max_value=400),
)
def test_networkdays_closed_form(d1, span):
    """C224's W(d2)-W(d1) equals a literal weekday walk for arbitrary
    epoch-day ranges (epoch day 0 = Thursday 1970-01-01)."""
    import datetime

    lut = [0, 1, 2, 2, 2, 3, 4]

    def W(d: int) -> int:
        return 5 * (d // 7) + lut[d % 7]

    d2 = d1 + span
    epoch = datetime.date(1970, 1, 1).toordinal()
    walk = sum(
        1
        for d in range(d1, d2)
        if datetime.date.fromordinal(epoch + d).weekday() < 5
    )
    assert W(d2) - W(d1) == walk


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pixels=st.lists(
        st.integers(min_value=0, max_value=255), min_size=15, max_size=15
    )
)
def test_ahash_bmp_roundtrip_pure(pixels):
    """C218's gradient-BMP encode → decode → average hash is
    pixel-exact for arbitrary 15-byte payloads (padding + bottom-up
    rows + BGR all exercised), matching the direct byte-space hash."""
    import pandas as pd

    from stellarsql_spark.pipeline.multimodal import (
        _ahash_decode_batch,
        _gradient_encode_batch,
    )

    payload = bytes(pixels)
    enc = list(
        _gradient_encode_batch(
            iter([pd.DataFrame({"doc_id": [1], "payload": [payload]})])
        )
    )[0]
    dec = list(_ahash_decode_batch(iter([enc])))[0]
    s = sum(pixels)
    want = sum(1 << i for i, p in enumerate(pixels) if 15 * p > s)
    assert int(dec["ahash"][0]) == want
    assert (int(dec["width"][0]), int(dec["height"][0])) == (5, 3)


# --- two-pass prefix vs pure-Python reference (r10) -------------------

_prefix_rows = st.lists(
    st.integers(min_value=-(2**40), max_value=2**40),
    min_size=0,
    max_size=60,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=_prefix_rows, npart=st.sampled_from([1, 2, 3, 7, 32]))
def test_ordered_running_matches_python_prefix(spark, vals, npart):
    """ordered_running over a random signed series (duplicates and
    negatives included) must reproduce the pure-Python inclusive
    prefix and 1-based rank under the (v, id) total order — at every
    partition count, including npart > |rows| and npart = 1."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stellarsql_spark.functions.prefix import ordered_running

    pdf = pd.DataFrame({"id": range(len(vals)), "v": vals}).astype("int64")
    sdf = spark.createDataFrame(pdf, schema="id long, v long")
    out = ordered_running(
        sdf, [F.col("v"), F.col("id")], {"rs": F.col("v")},
        npart=npart, row_number_as="rn",
    )
    got = {r["id"]: (r["rs"], r["rn"]) for r in out.collect()}
    acc = 0
    want = {}
    for i, (vid, v) in enumerate(
        sorted(((r.id, r.v) for r in pdf.itertuples(index=False)),
               key=lambda p: (p[1], p[0])),
        start=1,
    ):
        acc += v
        want[vid] = (acc, i)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=_prefix_rows, k=st.integers(min_value=1, max_value=9))
def test_ordered_ntile_matches_sql_standard_rule(spark, vals, k):
    """ordered_ntile must reproduce the SQL-standard NTILE rule (first
    n % k buckets take one extra row) for any n, k — including n < k
    and n = 0."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stellarsql_spark.functions.prefix import ordered_ntile

    pdf = pd.DataFrame({"id": range(len(vals)), "v": vals}).astype("int64")
    sdf = spark.createDataFrame(pdf, schema="id long, v long")
    out = ordered_ntile(sdf, [F.col("v"), F.col("id")], k, "q", npart=7)
    got = {r["id"]: r["q"] for r in out.collect()}
    n = len(vals)
    order = sorted(((r.id, r.v) for r in pdf.itertuples(index=False)),
                   key=lambda p: (p[1], p[0]))
    q_, r_ = divmod(n, k)
    want = {}
    pos = 0
    for b in range(1, k + 1):
        take = q_ + (1 if b <= r_ else 0)
        for _ in range(take):
            want[order[pos][0]] = b
            pos += 1
    assert got == want
