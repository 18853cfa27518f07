"""Seeded differential SQL fuzzing (SURVEY.md §5.2.4 extension):
randomly generated queries — same ANSI text — run through BOTH Spark
and DuckDB over the same corpus tables must agree exactly.

The fixed oracle matrix checks the operators we wrote; this tier
checks the operators the generator composes, catching cross-engine
semantic drift (null ordering, modulo sign, CASE fall-through,
IN-list nulls, join duplicate semantics, outer-join null rows, window
frame boundaries, set-op multiset semantics, correlated-EXISTS
decorrelation, scalar-subquery thresholds) across a much wider query
space. The generator is
SEEDED per round (base + 101 × round count), so any one round's ~220
queries are exactly reproducible while successive rounds explore
fresh query space.

Determinism rules baked into the grammar:
- integer and string columns only (no float aggregation order);
- no division (Spark and DuckDB promote differently);
- aggregates restricted to COUNT/SUM-of-int/MIN/MAX;
- every ORDER BY ends with a unique key so LIMIT is total-order.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"

TABLES = {
    "orders": {
        "int": ["o_orderkey", "o_custkey"],
        "str": ["o_orderstatus", "o_orderpriority"],
        "key": "o_orderkey",
    },
    "customer": {
        "int": ["c_custkey", "c_nationkey"],
        "str": ["c_mktsegment", "c_name"],
        "key": "c_custkey",
    },
    "lineitem": {
        "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "str": ["l_returnflag", "l_linestatus"],
        "key": "l_orderkey",
    },
    "part": {
        "int": ["p_partkey", "p_size"],
        "str": ["p_brand", "p_type"],
        "key": "p_partkey",
    },
}


def _int_expr(rng, cols):
    c = rng.choice(cols)
    form = rng.randrange(4)
    if form == 0:
        return c
    if form == 1:
        return f"({c} + {rng.randrange(1, 50)})"
    if form == 2:
        return f"({c} % {rng.randrange(2, 17)})"
    return f"(CASE WHEN {c} % 2 = 0 THEN {c} ELSE -{c} END)"


def _pred(rng, t):
    ints, strs = TABLES[t]["int"], TABLES[t]["str"]
    form = rng.randrange(4)
    if form == 0:
        return f"{rng.choice(ints)} % {rng.randrange(2, 10)} = {rng.randrange(0, 2)}"
    if form == 1:
        return f"{rng.choice(ints)} > {rng.randrange(0, 2000)}"
    if form == 2:
        c = rng.choice(strs)
        return f"length({c}) >= {rng.randrange(1, 8)}"
    a, b = _pred(rng, t), _pred(rng, t)
    op = rng.choice(["AND", "OR"])
    return f"({a} {op} {b})"


# Tables whose "key" column is genuinely unique — required by the
# window branch, whose determinism rests on a total per-partition
# order ending in a unique key.
_UNIQUE_KEY_TABLES = ("orders", "customer", "part")


def gen_query(rng) -> str:
    t = rng.choice(list(TABLES))
    ints, strs, key = TABLES[t]["int"], TABLES[t]["str"], TABLES[t]["key"]
    kind = rng.randrange(23)
    where = _pred(rng, t)
    if kind == 22:  # two-sided window frames (r12): the full frame
        # geometry the single-sided kinds (10/15) never touch — ROWS
        # and integer-offset RANGE with [UNBOUNDED] PRECEDING/
        # FOLLOWING ends on both sides.  Determinism rules: a ROWS
        # frame's content depends on tie order, so its ORDER BY always
        # ends with the unique key (total order) and FIRST_VALUE rides
        # only this leg; a RANGE frame is peer-based (value-defined),
        # so plain aggregates over it are deterministic with the bare
        # numeric ORDER BY.  Final ORDER BY covers every projected
        # column: rows tying on all of them are interchangeable under
        # LIMIT.
        g = rng.choice(strs)
        e = _int_expr(rng, ints)
        agg = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
        if rng.randrange(2):  # ROWS leg
            lo = rng.choice(
                ["UNBOUNDED PRECEDING", f"{rng.randrange(0, 6)} PRECEDING",
                 "CURRENT ROW"]
            )
            hi = rng.choice(
                ["UNBOUNDED FOLLOWING", f"{rng.randrange(0, 6)} FOLLOWING",
                 "CURRENT ROW"]
            )
            frame, order = f"ROWS BETWEEN {lo} AND {hi}", f"{e}, {key}"
            extra = (
                f", FIRST_VALUE({e}) OVER (PARTITION BY {g} "
                f"ORDER BY {order} {frame}) AS fv"
            )
            tail = "ORDER BY k, w, fv"
        else:  # RANGE leg (integer offsets)
            lo = rng.choice(
                ["UNBOUNDED PRECEDING", f"{rng.randrange(0, 500)} PRECEDING"]
            )
            hi = rng.choice(
                ["UNBOUNDED FOLLOWING", f"{rng.randrange(0, 500)} FOLLOWING",
                 "CURRENT ROW"]
            )
            frame, order, extra = f"RANGE BETWEEN {lo} AND {hi}", e, ""
            tail = "ORDER BY k, w"
        return (
            f"SELECT {key} AS k, "
            f"CAST({agg}({e}) OVER (PARTITION BY {g} ORDER BY {order} "
            f"{frame}) AS BIGINT) AS w{extra} "
            f"FROM {t} WHERE {where} {tail} LIMIT {rng.randrange(30, 80)}"
        )
    if kind == 20:  # correlated LATERAL aggregate subquery (r10):
        # Spark 4 and DuckDB share the ANSI spelling exactly
        # (comma-join + LATERAL(...)); the aggregate subquery always
        # yields one row, so zero-match customers surface as
        # (n=0, s=NULL) in BOTH engines — parity verified before
        # landing.  ORDER BY the unique key makes the LIMIT total.
        e = _int_expr(rng, TABLES["orders"]["int"])
        return (
            f"SELECT c.c_custkey AS k, l.n, l.s FROM customer c, LATERAL ("
            f"SELECT COUNT(*) AS n, CAST(SUM({e}) AS BIGINT) AS s "
            f"FROM orders o WHERE o.o_custkey = c.c_custkey "
            f"AND {_pred(rng, 'orders')}) l "
            f"ORDER BY k LIMIT {rng.randrange(30, 90)}"
        )
    if kind == 21:  # GROUP BY ALL + ORDER BY ALL (r10): the
        # DuckDB-originated shorthand Spark 4 adopted — every
        # non-aggregate projection becomes a group key, then the full
        # projection becomes the sort key, so the result is totally
        # ordered by construction.
        g = rng.choice(strs)
        e = _int_expr(rng, ints)
        m = rng.randrange(3, 12)
        return (
            f"SELECT {g} AS g, ({e}) % {m} AS v, COUNT(*) AS n, "
            f"CAST(SUM({e}) AS BIGINT) AS s "
            f"FROM {t} WHERE {where} GROUP BY ALL ORDER BY ALL"
        )
    if kind == 18:  # array HOFs (r10): split → lambda filter →
        # array_sort → cast-to-varchar, the higher-order surface the
        # scalar branch never touches.  Everything here is spelled and
        # defined identically (probed before landing): split on a
        # non-regex separator, `filter(arr, s -> pred)` lambdas,
        # array_sort, array_contains, and CAST(list AS VARCHAR) both
        # printing "[a, b]".  array_distinct alone DIVERGES (DuckDB
        # sorts, Spark keeps first-occurrence order) — always wrapped
        # in array_sort here.  ORDER BY every projected column: rows
        # tying on all of them are interchangeable under LIMIT.
        c = rng.choice(strs)
        sep = rng.choice(["'-'", "' '", "'#'"])
        minlen = rng.randrange(1, 6)
        arr = f"filter(split({c}, {sep}), s -> length(s) >= {minlen})"
        lit = rng.choice(["'1'", "'a'", "'Customer'", "'STANDARD'"])
        return (
            f"SELECT {key} AS k, "
            f"CAST(array_sort({arr}) AS VARCHAR(200)) AS a, "
            f"CAST(array_sort(array_distinct({arr})) AS VARCHAR(200)) AS ad, "
            f"array_contains(split({c}, {sep}), {lit}) AS b, "
            f"array_position(array_sort({arr}), {lit}) AS p "
            f"FROM {t} WHERE {where} "
            f"ORDER BY k, a, ad, b, p LIMIT {rng.randrange(30, 90)}"
        )
    if kind == 19:  # LISTAGG + ILIKE census (r10).  Unordered LISTAGG
        # is order-NONdeterministic, so the comparison rides its
        # order-invariant projections: LENGTH (same multiset + same
        # separators ⇒ same length, and NULL-skip divergence would
        # change it) next to COUNT.  ILIKE is the shared
        # case-insensitive LIKE spelling in both engines.
        g = rng.choice(strs)
        c = rng.choice([x for x in strs if x != g] or strs)
        pat = rng.choice(["%a%", "1%", "%T", "%er%", "C_s%", "%d"])
        return (
            f"SELECT {g} AS g, COUNT(*) AS n, "
            f"LENGTH(LISTAGG({c}, ',')) AS ln, "
            f"COUNT(CASE WHEN {c} ILIKE '{pat}' THEN 1 END) AS ni "
            f"FROM {t} WHERE {where} GROUP BY {g}"
        )
    if kind == 17:  # portable scalar cocktail (r9 second half): the
        # string/date builtin surface the relational kinds never touch.
        # Every function below is spelled and defined identically in
        # Spark and DuckDB (1-based substring, SQL trim semantics,
        # ANSI EXTRACT); EXTRACT is cast to BIGINT because the engines
        # disagree only on the return WIDTH.
        c = rng.choice(strs)
        scalar = rng.choice(
            [
                f"upper({c})",
                f"lower({c})",
                f"substring({c}, 2, 5)",
                f"replace({c}, 'a', '_')",
                f"length(trim({c}))",
                f"reverse({c})",
                f"lpad({c}, 12, 'x')",
                f"rpad({c}, 12, 'y')",
                f"concat(upper({c}), '-', lower({c}))",
            ]
        )
        if t == "orders" and rng.randrange(2):
            unit = rng.choice(["year", "month", "day"])
            scalar = f"CAST(EXTRACT({unit} FROM o_orderdate) AS BIGINT)"
        # ORDER BY k alone is NOT total on lineitem (l_orderkey repeats
        # per line item) and a LIMIT cutting mid-tie selects engine-
        # dependent rows — caught by this branch's own pre-landing
        # sweep. Ordering by (k, s) makes rows at the cut identical
        # pairs, so the selected multiset is engine-independent.
        return (
            f"SELECT {key} AS k, {scalar} AS s FROM {t} "
            f"WHERE {where} ORDER BY k, s LIMIT {rng.randrange(40, 120)}"
        )
    if kind == 15:  # RANGE INTERVAL frame over a date ORDER BY (r9):
        # time-based window frames — peers aggregate together, so ties
        # on the date are deterministic; both engines accept the ANSI
        # INTERVAL 'n' DAY literal (verified before this branch landed)
        days = rng.randrange(5, 120)
        e = _int_expr(rng, TABLES["orders"]["int"])
        return (
            f"SELECT o_orderkey AS k, "
            f"CAST(SUM({e}) OVER (PARTITION BY o_orderstatus "
            f"ORDER BY o_orderdate RANGE BETWEEN INTERVAL '{days}' DAY "
            f"PRECEDING AND CURRENT ROW) AS BIGINT) AS w "
            f"FROM orders WHERE {_pred(rng, 'orders')} "
            f"ORDER BY k LIMIT {rng.randrange(30, 80)}"
        )
    if kind == 16:  # CUBE with a portable grouping-id bitmask (r9):
        # GROUPING(a)*2+GROUPING(b) spells GROUPING_ID in text both
        # engines accept (Spark's GROUPING_ID/DuckDB's multi-arg
        # GROUPING are spelled differently). No WHERE — same
        # empty-input divergence as the ROLLUP branch.
        if len(strs) < 2:
            kind = 14
        else:
            g1 = rng.choice(strs)
            g2 = rng.choice([c for c in strs if c != g1])
            e = _int_expr(rng, ints)
            return (
                f"SELECT {g1} AS g1, {g2} AS g2, "
                f"GROUPING({g1})*2 + GROUPING({g2}) AS gid, "
                f"COUNT(*) AS n, CAST(SUM({e}) AS BIGINT) AS s "
                f"FROM {t} GROUP BY CUBE ({g1}, {g2})"
            )
    if kind == 12:  # ROLLUP with GROUPING() disambiguation.
        # No WHERE here: on an EMPTY input DuckDB emits the standard
        # grand-total row (n=0, all GROUPING()=1) while Spark returns
        # nothing — a genuine engine divergence this fuzz found; the
        # rollup branch therefore runs on the full (never-empty)
        # table.  Duplicate rollup columns also diverge — g2 != g1.
        if len(strs) < 2:
            kind = 14  # table has one string column: fall through
        else:
            g1 = rng.choice(strs)
            g2 = rng.choice([c for c in strs if c != g1])
            e = _int_expr(rng, ints)
            return (
                f"SELECT {g1} AS g1, {g2} AS g2, "
                f"GROUPING({g1}) AS gr1, GROUPING({g2}) AS gr2, "
                f"COUNT(*) AS n, CAST(SUM({e}) AS BIGINT) AS s "
                f"FROM {t} GROUP BY ROLLUP ({g1}, {g2})"
            )
    if kind == 13:  # semi/anti join via [NOT] IN subquery (null-free keys)
        neg = rng.choice(["", "NOT "])
        return (
            f"SELECT c_mktsegment AS g, COUNT(*) AS n FROM customer "
            f"WHERE c_custkey {neg}IN (SELECT o_custkey FROM orders "
            f"WHERE {_pred(rng, 'orders')}) GROUP BY c_mktsegment"
        )
    if kind == 14:  # conditional-aggregation pivot
        g = rng.choice(strs)
        e = _int_expr(rng, ints)
        m = rng.randrange(2, 5)
        cols = ", ".join(
            f"CAST(SUM(CASE WHEN ({e}) % {m} = {i} THEN {e} END) AS BIGINT) AS s{i}, "
            f"COUNT(CASE WHEN ({e}) % {m} = {i} THEN 1 END) AS n{i}"
            for i in range(m)
        )
        return f"SELECT {g} AS g, {cols} FROM {t} WHERE {where} GROUP BY {g}"
    if kind == 9:  # set operation between two filtered projections
        op = rng.choice(
            ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL", "EXCEPT", "EXCEPT ALL"]
        )
        m = rng.randrange(3, 12)
        e1, e2 = _int_expr(rng, ints), _int_expr(rng, ints)
        g = rng.choice(strs)
        return (
            f"SELECT ({e1}) % {m} AS v, {g} AS g FROM {t} WHERE {where} "
            f"{op} "
            f"SELECT ({e2}) % {m} AS v, {g} AS g FROM {t} WHERE {_pred(rng, t)}"
        )
    if kind == 10:  # correlated EXISTS / NOT EXISTS
        neg = rng.choice(["", "NOT "])
        return (
            f"SELECT c_custkey AS k, c_mktsegment AS g FROM customer c "
            f"WHERE {neg}EXISTS (SELECT 1 FROM orders o "
            f"WHERE o.o_custkey = c.c_custkey AND {_pred(rng, 'orders')}) "
            f"ORDER BY k LIMIT {rng.randrange(20, 60)}"
        )
    if kind == 11:  # scalar-aggregate subquery threshold
        e = rng.choice(ints)
        g = rng.choice(strs)
        return (
            f"SELECT {g} AS g, COUNT(*) AS n FROM {t} "
            f"WHERE {e} > (SELECT MIN({e}) + {rng.randrange(1, 500)} FROM {t}) "
            f"GROUP BY {g}"
        )
    if kind == 0:  # grouped aggregate
        g = rng.choice(strs)
        e = _int_expr(rng, ints)
        return (
            f"SELECT {g} AS g, COUNT(*) AS n, "
            f"CAST(SUM({e}) AS BIGINT) AS s, "
            f"CAST(MIN({e}) AS BIGINT) AS mn, CAST(MAX({e}) AS BIGINT) AS mx "
            f"FROM {t} WHERE {where} GROUP BY {g}"
        )
    if kind == 1:  # projection + total-order limit
        e = _int_expr(rng, ints)
        # ORDER BY every projected column: "key" columns are not
        # unique in every table (lineitem repeats l_orderkey per
        # line), but rows tying on ALL projected columns are
        # interchangeable, so the limited multiset is deterministic.
        return (
            f"SELECT {key} AS k, {e} AS v, upper({rng.choice(strs)}) AS u "
            f"FROM {t} WHERE {where} "
            f"ORDER BY v DESC, k, u LIMIT {rng.randrange(5, 40)}"
        )
    if kind == 2:  # grouped aggregate with HAVING
        g = rng.choice(strs)
        e = _int_expr(rng, ints)
        return (
            f"SELECT {g} AS g, COUNT(*) AS n, CAST(SUM({e}) AS BIGINT) AS s "
            f"FROM {t} WHERE {where} GROUP BY {g} "
            f"HAVING COUNT(*) > {rng.randrange(1, 20)}"
        )
    if kind == 3:  # DISTINCT projection
        e = _int_expr(rng, ints)
        return (
            f"SELECT DISTINCT ({e}) % {rng.randrange(3, 12)} AS v, "
            f"{rng.choice(strs)} AS g FROM {t} WHERE {where}"
        )
    if kind == 4:  # window rank filtered via subquery (unique-key tables)
        wt = rng.choice(_UNIQUE_KEY_TABLES)
        wints, wstrs, wkey = TABLES[wt]["int"], TABLES[wt]["str"], TABLES[wt]["key"]
        e = _int_expr(rng, wints)
        g = rng.choice(wstrs)
        return (
            f"SELECT g, k, rn FROM ("
            f"SELECT {g} AS g, {wkey} AS k, "
            f"ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY {e} DESC, {wkey}) AS rn "
            f"FROM {wt} WHERE {_pred(rng, wt)}) t WHERE rn <= {rng.randrange(2, 6)}"
        )
    if kind == 5:  # joined aggregate (orders x customer, predicates random)
        e = _int_expr(rng, ["o_orderkey", "o_custkey", "c_nationkey"])
        return (
            "SELECT c_mktsegment AS g, COUNT(*) AS n, "
            f"CAST(SUM({e}) AS BIGINT) AS s "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE {_pred(rng, 'orders')} GROUP BY c_mktsegment"
        )
    if kind == 6:  # LEFT outer join: the right side is FILTERED so
        # unmatched rows genuinely exist (corpus FKs are complete)
        return (
            "SELECT o_orderkey AS k, o_custkey AS fk, c_nationkey AS nk, "
            "c_mktsegment AS seg "
            "FROM orders LEFT JOIN "
            f"(SELECT * FROM customer WHERE {_pred(rng, 'customer')}) c "
            "ON o_custkey = c_custkey "
            f"WHERE {_pred(rng, 'orders')} "
            f"ORDER BY k LIMIT {rng.randrange(20, 60)}"
        )
    if kind == 7:  # FULL outer join, both sides filtered, aggregated
        return (
            "SELECT COUNT(*) AS n, COUNT(o_orderkey) AS n_l, "
            "COUNT(c_custkey) AS n_r, "
            "CAST(SUM(COALESCE(c_nationkey, -1)) AS BIGINT) AS s "
            f"FROM (SELECT * FROM orders WHERE {_pred(rng, 'orders')}) o "
            "FULL OUTER JOIN "
            f"(SELECT * FROM customer WHERE {_pred(rng, 'customer')}) c "
            "ON o_custkey = c_custkey"
        )
    # windowed running frame over a unique-key table: ROWS frames need
    # the (expr, unique key) total order; RANGE frames aggregate peers
    # together so ties are deterministic by construction
    wt = rng.choice(_UNIQUE_KEY_TABLES)
    wints, wstrs, wkey = TABLES[wt]["int"], TABLES[wt]["str"], TABLES[wt]["key"]
    g = rng.choice(wstrs)
    e = rng.choice(wints)
    if rng.randrange(2):
        frame = f"ROWS BETWEEN {rng.randrange(1, 4)} PRECEDING AND CURRENT ROW"
        order = f"{e}, {wkey}"
    else:
        frame = f"RANGE BETWEEN {rng.randrange(10, 500)} PRECEDING AND CURRENT ROW"
        order = e
    return (
        f"SELECT {wkey} AS k, "
        f"CAST(SUM({e}) OVER (PARTITION BY {g} ORDER BY {order} {frame}) AS BIGINT) AS w "
        f"FROM {wt} WHERE {_pred(rng, wt)} ORDER BY k LIMIT {rng.randrange(30, 80)}"
    )


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # engines surface string NULLs as None/NaN variants —
            # normalize them to one sentinel before comparing
            df[c] = df[c].map(lambda v: "<NULL>" if pd.isna(v) else str(v))
        else:
            # outer-join branches produce NULL ints, which pandas
            # widens to float64 NaN; nullable Int64 keeps them exact
            # (all generated magnitudes are far below 2^53)
            df[c] = df[c].astype("float64").astype("Int64")
    return df.sort_values(list(df.columns), ignore_index=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def _round_seed(base: int) -> int:
    """Fixed fuzz seed per test, so every run explores the same query
    space and a failure reproduces from the repo state alone.  The
    ``101 * 14`` shift pins the seeds these tests have used since 14
    rounds of correctness records were on file."""
    import os

    # SPARK_GRAFT_FUZZ_OFFSET: extra-sweep hook — re-runs set 1, 2, ...
    # to explore fresh seed space while each sweep stays reproducible
    # from (repo state, offset).
    offset = int(os.environ.get("SPARK_GRAFT_FUZZ_OFFSET", "0"))
    return base + 101 * 14 + offset


def test_differential_corpus(spark, duck):
    from stellarsql_spark.catalog import register_views

    register_views(spark, SF, tuple(TABLES))
    seed = _round_seed(20260814)
    rng = random.Random(seed)
    mismatches = []
    for i in range(200):
        q = gen_query(rng)
        s = _canon(spark.sql(q).toPandas())
        d = _canon(duck.execute(q).df())
        # ORDER BY ... LIMIT queries are order-significant up to the
        # total order; _canon re-sorts both the same way, and the
        # total-order tie-break means both engines returned the same
        # row SET, so sorted equality is the right check everywhere.
        if not s.equals(d):
            mismatches.append((i, seed, q, len(s), len(d)))
    assert not mismatches, mismatches[:3]


# --- null-semantics differential branch -----------------------------
#
# The corpus columns are null-free, so the fuzz above never exercises
# three-valued logic. This branch builds the SAME null-rich table in
# both engines from one VALUES text and fuzzes the classic traps:
# NOT IN with NULL in the list, IS [NOT] DISTINCT FROM, COALESCE
# fall-through, CASE with NULL branches, aggregates skipping NULLs,
# GROUP BY a nullable key.

_NULL_TABLE = """
(VALUES (1, 10, 'a'), (2, NULL, 'b'), (3, 30, NULL), (4, NULL, NULL),
        (5, 50, 'a'), (6, 60, 'b'), (7, NULL, 'a'), (8, 80, NULL),
        (9, 90, 'c'), (10, 100, 'c')) AS nt(id, x, g)
"""


def gen_null_query(rng) -> str:
    kind = rng.randrange(8)
    if kind >= 6:  # nullable-key OUTER equi-join: NULL keys never
        # match, so they surface as unmatched rows on their own side
        jt = "LEFT JOIN" if kind == 6 else "FULL OUTER JOIN"
        pred = rng.choice(["", f" AND a.x > {rng.randrange(0, 80)}"])
        return (
            f"SELECT a.id AS ida, b.id AS idb, a.x AS xa, b.x AS xb "
            f"FROM {_NULL_TABLE.replace('nt(', 'a_t(').replace('AS a_t', 'AS a')} "
            f"{jt} {_NULL_TABLE.replace('nt(', 'b_t(').replace('AS b_t', 'AS b')} "
            f"ON a.g = b.g AND a.id <> b.id{pred} "
            f"ORDER BY ida, idb"
        )
    if kind == 0:  # NOT IN with a NULL in the list → empty unless x IS NULL handled
        lits = ", ".join(str(rng.randrange(0, 120)) for _ in range(3))
        neg = rng.choice(["", "NOT "])
        return (
            f"SELECT id FROM {_NULL_TABLE} "
            f"WHERE x {neg}IN ({lits}{rng.choice([', NULL', ''])}) ORDER BY id"
        )
    if kind == 1:  # IS DISTINCT FROM
        v = rng.choice(["NULL", str(rng.randrange(0, 120))])
        op = rng.choice(["IS DISTINCT FROM", "IS NOT DISTINCT FROM"])
        return f"SELECT id FROM {_NULL_TABLE} WHERE x {op} {v} ORDER BY id"
    if kind == 2:  # grouped agg over nullable key: NULL forms a group
        return (
            f"SELECT g, COUNT(*) AS n_rows, COUNT(x) AS n_x, "
            f"CAST(SUM(x) AS BIGINT) AS s, CAST(MIN(x) AS BIGINT) AS mn "
            f"FROM {_NULL_TABLE} GROUP BY g"
        )
    if kind == 3:  # COALESCE fall-through + CASE yielding NULL
        d = rng.randrange(1, 99)
        return (
            f"SELECT id, COALESCE(x, -{d}) AS cx, "
            f"CASE WHEN x > {rng.randrange(20, 90)} THEN g END AS cg "
            f"FROM {_NULL_TABLE} ORDER BY id"
        )
    if kind == 4:  # null-aware predicates combined
        return (
            f"SELECT id FROM {_NULL_TABLE} "
            f"WHERE (x IS NULL OR x % {rng.randrange(2, 7)} = 0) "
            f"AND (g IS NOT NULL OR id > {rng.randrange(0, 8)}) ORDER BY id"
        )
    # self-join on nullable key: NULL never equi-matches
    return (
        f"SELECT a.id AS ida, b.id AS idb FROM {_NULL_TABLE.replace('nt(', 'a_t(').replace('AS a_t', 'AS a')} "
        f"JOIN {_NULL_TABLE.replace('nt(', 'b_t(').replace('AS b_t', 'AS b')} "
        f"ON a.g = b.g AND a.id < b.id ORDER BY ida, idb"
    )


def test_differential_null_semantics(spark, duck):
    seed = _round_seed(20260815)
    rng = random.Random(seed)
    mismatches = []
    for i in range(60):
        q = gen_null_query(rng)
        s = _canon(spark.sql(q).toPandas())
        d = _canon(duck.execute(q).df())
        if not s.equals(d):
            mismatches.append((i, seed, q, len(s), len(d)))
    assert not mismatches, mismatches[:3]


# --- watermark-window batch-twin branch ------------------------------
#
# Structured Streaming semantics, replayed as batch SQL both engines
# can run: a tumbling event-time window with a watermark cutoff
# (rows later than MAX(ts) - lateness are dropped — exactly the
# rows a streaming run would discard after the watermark passed),
# plus the gaps-and-islands sessionization the session-window
# operator compiles to. Timestamps cross engines as CAST(ts AS
# VARCHAR) of date_trunc outputs ('YYYY-MM-DD HH:MM:SS' in both).

_EVENTS_SF = SF


def gen_watermark_query(rng) -> str:
    kind = rng.randrange(3)
    if kind == 0:  # tumbling window behind a watermark
        unit = rng.choice(["minute", "hour", "day"])
        lateness = rng.randrange(1, 36)
        lunit = rng.choice(["MINUTE", "HOUR"])
        grouped = rng.randrange(2)
        gcol = ", event_type AS g" if grouped else ""
        gby = "GROUP BY 1, 2" if grouped else "GROUP BY 1"
        return (
            # double cast: DuckDB's date_trunc('day', ...) yields DATE
            # ('2026-01-02') while Spark stays TIMESTAMP — going via
            # TIMESTAMP makes both print 'YYYY-MM-DD HH:MM:SS'
            f"SELECT CAST(CAST(date_trunc('{unit}', ts) AS TIMESTAMP) "
            f"AS VARCHAR(32)) AS ws{gcol}, "
            f"COUNT(*) AS n, COUNT(DISTINCT user_id) AS nu, "
            f"CAST(MAX(user_id) AS BIGINT) AS mxu "
            f"FROM events "
            f"WHERE ts <= (SELECT MAX(ts) - INTERVAL {lateness} {lunit} FROM events) "
            f"{gby}"
        )
    if kind == 1:  # late-vs-on-time census at a given watermark
        lateness = rng.randrange(1, 72)
        return (
            f"SELECT event_type AS g, COUNT(*) AS n_total, "
            f"COUNT(CASE WHEN ts <= (SELECT MAX(ts) - INTERVAL {lateness} HOUR "
            f"FROM events) THEN 1 END) AS n_on_time "
            f"FROM events GROUP BY event_type"
        )
    # session windows via gaps-and-islands (the batch twin of the
    # 30-min-gap session operator); event_id makes the per-user
    # order total so the island numbering is deterministic
    gap = rng.choice([5, 15, 30, 60])
    return (
        f"SELECT user_id AS u, session_id AS sid, COUNT(*) AS n, "
        f"CAST(MAX(event_id) AS BIGINT) AS mxe FROM ("
        f"SELECT user_id, event_id, "
        f"SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM ("
        f"SELECT user_id, ts, event_id, "
        f"CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        f"IS NULL OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        f"+ INTERVAL {gap} MINUTE THEN 1 ELSE 0 END AS new_s "
        f"FROM events) flags) islands "
        f"GROUP BY user_id, session_id "
        f"ORDER BY u, sid LIMIT {rng.randrange(40, 120)}"
    )


def test_differential_watermark_windows(spark, duck):
    from stellarsql_spark.catalog import register_views

    register_views(spark, _EVENTS_SF, ("events",))
    duck.execute(
        f"CREATE VIEW IF NOT EXISTS events AS "
        f"SELECT * FROM read_parquet('{_EVENTS_SF}/events.parquet')"
    )
    seed = _round_seed(20260816)
    rng = random.Random(seed)
    mismatches = []
    for i in range(40):
        q = gen_watermark_query(rng)
        s = _canon(spark.sql(q).toPandas())
        d = _canon(duck.execute(q).df())
        if not s.equals(d):
            mismatches.append((i, seed, q, len(s), len(d)))
    assert not mismatches, mismatches[:2]


def test_decimal_floor_division_divergence_documented():
    """Engine divergence found while building C243 (b_agg_hhi): on
    DECIMAL operands DuckDB's // does NOT floor — it returns the
    plain decimal quotient — and the subsequent CAST(… AS BIGINT)
    ROUNDS half-up, so a fractional ratio comes back one HIGHER than
    Spark's `div` (exact integral division) whenever the fraction is
    >= .5.  Casting both operands to HUGEINT first restores exact
    floor semantics in DuckDB; that cast is the convention this
    repo's oracles use for any div on DECIMAL(38) carriers."""
    import duckdb

    num = 3480377188547544720000000  # real operands from b_agg_hhi
    den = 161504867222398162576
    want = num // den  # exact floor = 21549 (true ratio 21549.67…)
    dec = duckdb.sql(
        f"SELECT CAST(CAST({num} AS DECIMAL(38,0)) // CAST({den} AS DECIMAL(38,0)) AS BIGINT)"
    ).fetchone()[0]
    raw = duckdb.sql(
        f"SELECT CAST({num} AS DECIMAL(38,0)) // CAST({den} AS DECIMAL(38,0))"
    ).fetchone()[0]
    hug = duckdb.sql(
        f"SELECT CAST({num} AS HUGEINT) // CAST({den} AS HUGEINT)"
    ).fetchone()[0]
    assert int(hug) == want
    assert float(raw) != float(want)  # // on DECIMAL did not floor
    assert int(dec) == want + 1  # quotient .67 then round-on-cast


# --- two-pass global prefix differential branch (r10) -----------------
#
# functions/prefix.py ships the scalable global running-sum/rank
# (range-repartition → local window → broadcast exclusive prefix of
# partition totals).  This branch fuzzes it THREE-WAY on random signed
# series: the shipped two-pass API result must equal the naive
# single-partition window in BOTH engines' SQL, across random tables,
# expressions, sort directions, and partition counts — so a prefix
# regression (boundary drift, offset off-by-one, tie handling) is a
# differential red, not just a unit-test case.


def test_differential_prefix_two_pass(spark, duck):
    from pyspark.sql import functions as F

    from stellarsql_spark.catalog import register_views
    from stellarsql_spark.functions.prefix import ordered_ntile, ordered_running

    register_views(spark, SF, tuple(TABLES))
    seed = _round_seed(20260817)
    rng = random.Random(seed)
    mismatches = []
    for i in range(25):
        t = rng.choice(_UNIQUE_KEY_TABLES)
        ints, key = TABLES[t]["int"], TABLES[t]["key"]
        e = _int_expr(rng, ints)  # the CASE form makes the series signed
        where = _pred(rng, t)
        base_sql = f"SELECT {key} AS k, CAST({e} AS BIGINT) AS v FROM {t} WHERE {where}"
        desc = rng.randrange(2)
        dirn = "DESC" if desc else "ASC"
        naive = (
            f"SELECT k, CAST(SUM(v) OVER (ORDER BY v {dirn}, k "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rs, "
            f"ROW_NUMBER() OVER (ORDER BY v {dirn}, k) AS rn "
            f"FROM ({base_sql}) b"
        )
        d = _canon(duck.execute(naive).df())
        s_naive = _canon(spark.sql(naive).toPandas())
        order = [
            F.col("v").desc() if desc else F.col("v").asc(),
            F.col("k"),
        ]
        two = ordered_running(
            spark.sql(base_sql),
            order,
            {"rs": F.col("v")},
            npart=rng.choice([3, 7, 32]),
            row_number_as="rn",
        ).select("k", "rs", "rn")
        s_two = _canon(two.toPandas())
        if not (s_two.equals(d) and s_naive.equals(d)):
            mismatches.append((i, seed, base_sql, dirn))
    assert not mismatches, mismatches[:3]


def test_differential_prefix_ntile(spark, duck):
    from pyspark.sql import functions as F

    from stellarsql_spark.catalog import register_views
    from stellarsql_spark.functions.prefix import ordered_ntile

    register_views(spark, SF, tuple(TABLES))
    seed = _round_seed(20260818)
    rng = random.Random(seed)
    mismatches = []
    for i in range(15):
        t = rng.choice(_UNIQUE_KEY_TABLES)
        ints, key = TABLES[t]["int"], TABLES[t]["key"]
        e = _int_expr(rng, ints)
        where = _pred(rng, t)
        k_buckets = rng.randrange(2, 9)
        base_sql = f"SELECT {key} AS k, CAST({e} AS BIGINT) AS v FROM {t} WHERE {where}"
        naive = (
            f"SELECT k, NTILE({k_buckets}) OVER (ORDER BY v, k) AS q "
            f"FROM ({base_sql}) b"
        )
        d = _canon(duck.execute(naive).df())
        s_naive = _canon(spark.sql(naive).toPandas())
        two = ordered_ntile(
            spark.sql(base_sql),
            [F.col("v"), F.col("k")],
            k_buckets,
            "q",
            npart=rng.choice([3, 7, 32]),
        ).select("k", "q")
        s_two = _canon(two.toPandas())
        if not (s_two.equals(d) and s_naive.equals(d)):
            mismatches.append((i, seed, base_sql, k_buckets))
    assert not mismatches, mismatches[:3]


def test_double_to_decimal_shortest_repr_divergence_documented(spark):
    """Engine divergence found while building C259
    (b_ts_stl_anomaly_wide): casting a large DOUBLE to a wide integer
    type, Spark's CAST(… AS DECIMAL(38,0)) goes through the double's
    SHORTEST DECIMAL REPRESENTATION (Java BigDecimal.valueOf →
    Double.toString), while DuckDB's CAST to HUGEINT or DECIMAL(38,0)
    converts the EXACT binary value — at 1e21 the two differ by
    ~1.6e8.  Both are defensible readings of an inexact double; the
    repo convention is therefore to never round-trip a wide exact
    carrier through double (C259 replaced its seasonal-mean double
    ROUND with an exact truncating integer division in both
    engines)."""
    import duckdb

    v = -2777777777777777836032.0  # exactly representable binary double
    s = spark.sql(
        f"SELECT CAST(CAST({v!r} AS DOUBLE) AS DECIMAL(38,0)) AS d"
    ).first()["d"]
    d = duckdb.sql(
        f"SELECT CAST(CAST({v!r} AS DOUBLE) AS HUGEINT) AS d"
    ).fetchone()[0]
    assert int(d) == int(v)  # DuckDB: the exact binary value
    assert int(s) == -2777777777777778000000  # Spark: shortest repr
    assert int(s) != int(d)


# --- streaming-ENGINE window fuzz branch (r10 VERDICT #8) -------------

# The batch-SQL branches above fuzz window shapes through both engines'
# BATCH paths; this branch fuzzes the real Structured Streaming engine:
# random tumbling/sliding widths and watermark offsets drained through
# FOUR genuine micro-batches (the C263 time-quartile split — time-
# ordered, so the advancing watermark never drops a row) must equal the
# batch aggregate over the same events.  Complete mode checks full
# cross-batch state folding for arbitrary window geometry; append mode
# additionally checks the emission rule (a window is emitted iff its
# END ≤ the final watermark = max event time − delay, the empirical
# rule parity.py's late-drop oracle established).


def test_differential_stream_engine_windows(spark):
    from pyspark.sql import functions as F

    from stellarsql_spark.catalog import load_table, table_path
    from stellarsql_spark.streaming.parity import _multibatch_dir
    from stellarsql_spark.streaming.runtime import (
        events_stream_from_dir,
        run_to_memory,
    )

    d = _multibatch_dir(spark, SF)
    ev = load_table(spark, SF, "events")
    seed = _round_seed(20260819)
    rng = random.Random(seed)
    mismatches = []
    for i in range(8):
        width_min = rng.choice([7, 13, 30, 45, 60, 90, 120])
        slide_min = width_min // rng.choice(
            [k for k in (1, 2, 3, 4) if width_min % k == 0]
        )
        wm_min = rng.choice([1, 30, 120, 360])
        mode = rng.choice(["complete", "append"])
        width, slide = f"{width_min} minutes", f"{slide_min} minutes"

        def agg(src):
            return (
                src.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("tv"),
                )
                .select(
                    F.col("w.start").alias("ws"),
                    F.col("w.end").alias("we"),
                    "event_type",
                    "n",
                    "tv",
                )
            )

        src = events_stream_from_dir(
            spark,
            d,
            schema_src=table_path(SF, "events"),
            max_files_per_trigger=1,
        )
        got = run_to_memory(
            agg(src.withWatermark("ts", f"{wm_min} minutes")), output_mode=mode
        )
        want = agg(ev)
        if mode == "append":
            # final-watermark emission rule: only closed windows emit
            wm_row = ev.agg(F.max("ts").alias("mx"))
            want = want.crossJoin(F.broadcast(wm_row)).where(
                F.col("we") <= F.col("mx") - F.expr(f"INTERVAL {wm_min} MINUTES")
            ).drop("mx")
        g = sorted(tuple(r) for r in got.collect())
        w = sorted(tuple(r) for r in want.collect())
        if g != w:
            mismatches.append((i, seed, width, slide, wm_min, mode, len(g), len(w)))
    assert not mismatches, mismatches


# --- iterative fixed-point differential branch (r14) -----------------
#
# The graph depth tier runs imperative Spark LOOPS (per-round
# localCheckpoint) certified against unrolled-CTE SQL oracles.  This
# branch fuzzes that correspondence the way the streaming branch
# fuzzes the streaming engine: random (event-type subset, user-modulus
# filter, round count, damping, init) PageRank-style integer fixed
# points run as a DataFrame loop on the Spark side and as generated
# unrolled CTEs in DuckDB.  Integer-exact by construction (BIGINT
# carriers, truncating div on non-negative ints), so any divergence in
# join/coalesce/div semantics or loop checkpointing is a hard
# mismatch, not noise.  Uses the sf0.01 events table under its own
# view name (the module's default views stay sf0.001, whose minute
# graph is edgeless).

_FP_SF = "/root/testdata/sf0.01"


def _fp_case(rng) -> dict:
    return {
        "etypes": sorted(
            rng.sample(["view", "click", "purchase", "signup", "error"],
                       k=rng.randrange(1, 4))
        ),
        "umod": rng.choice([(1, 0), (2, 0), (2, 1), (3, 1)]),
        "rounds": rng.randrange(1, 5),
        "damp": rng.randrange(60, 96),
        "init": rng.choice([1_000_000, 500_000, 123_456]),
    }


def _fp_where(case) -> str:
    ets = ", ".join(f"'{e}'" for e in case["etypes"])
    m, r = case["umod"]
    return f"event_type IN ({ets}) AND user_id % {m} = {r}"


def _fp_duck_sql(case) -> str:
    damp, init = case["damp"], case["init"]
    base = init * (100 - damp) // 100
    ctes = [
        f"b AS MATERIALIZED (SELECT DISTINCT user_id, event_type, "
        f"date_trunc('minute', ts) AS m FROM events01 WHERE {_fp_where(case)})",
        "edges AS MATERIALIZED (SELECT a.user_id AS u, c.user_id AS v "
        "FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m "
        "WHERE a.user_id < c.user_id GROUP BY 1, 2)",
        "und AS MATERIALIZED (SELECT u, v FROM edges "
        "UNION ALL SELECT v AS u, u AS v FROM edges)",
        "dg AS MATERIALIZED (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        "FROM und GROUP BY 1)",
        f"r0 AS MATERIALIZED (SELECT node, deg, CAST({init} AS BIGINT) AS pr FROM dg)",
    ]
    for k in range(1, case["rounds"] + 1):
        ctes.append(
            f"r{k} AS MATERIALIZED (SELECT d.node, d.deg, "
            f"CAST({base} + ({damp} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr "
            f"FROM dg d LEFT JOIN (SELECT e.v AS node, SUM(r.pr // r.deg) AS s "
            f"FROM und e JOIN r{k - 1} r ON e.u = r.node GROUP BY 1) s "
            f"ON d.node = s.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, deg, pr FROM r{case['rounds']} ORDER BY node"
    )


def _fp_spark_run(spark, case):
    from pyspark.sql import functions as F

    damp, init = case["damp"], case["init"]
    base = init * (100 - damp) // 100
    ev = spark.table("events01").where(_fp_where(case))
    b = ev.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    edges = (
        b.alias("l")
        .join(b.alias("r"), ["event_type", "m"])
        .where(F.col("l.user_id") < F.col("r.user_id"))
        .select(F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v"))
        .distinct()
    )
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    try:
        dg = (
            und.groupBy(F.col("u").alias("node"))
            .agg(F.count("*").alias("deg"))
            .localCheckpoint()
        )
        ranks = dg.select(
            "node", "deg", F.lit(init).cast("bigint").alias("pr")
        )
        for _ in range(case["rounds"]):
            contrib = (
                und.join(
                    ranks.select(F.col("node").alias("u"), "deg", "pr"), "u"
                )
                .select(F.col("v").alias("node"), F.expr("pr div deg").alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
            ranks = dg.join(contrib, "node", "left").select(
                "node",
                "deg",
                (F.lit(base) + F.expr(f"({damp} * coalesce(s, 0)) div 100"))
                .cast("bigint")
                .alias("pr"),
            ).localCheckpoint()
        return sorted(
            (r["node"], r["deg"], r["pr"]) for r in ranks.collect()
        )
    finally:
        und.unpersist()


def test_differential_graph_fixedpoint(spark, duck):
    from stellarsql_spark.catalog import load_table

    load_table(spark, _FP_SF, "events").createOrReplaceTempView("events01")
    duck.execute(
        f"CREATE VIEW IF NOT EXISTS events01 AS "
        f"SELECT * FROM read_parquet('{_FP_SF}/events.parquet')"
    )
    seed = _round_seed(20260817)
    rng = random.Random(seed)
    mismatches = []
    for i in range(10):
        case = _fp_case(rng)
        got = _fp_spark_run(spark, case)
        want = sorted(tuple(r) for r in duck.execute(_fp_duck_sql(case)).fetchall())
        if got != want:
            mismatches.append((i, seed, case, len(got), len(want)))
    assert not mismatches, mismatches[:2]
