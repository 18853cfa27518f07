"""Scalar function families (SURVEY.md §2 B34–B38).

Each query exercises one family end-to-end with the DuckDB oracle
mirroring Spark semantics explicitly (1-indexed substring, half-up
vs half-even rounding avoided by never rounding exact-boundary
values, transcendentals rounded to 6 dp so libm last-ulp differences
can't flip the hash, timestamps kept in UTC).

Everything here is built-in `pyspark.sql.functions` — JVM-side,
inside whole-stage codegen; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents
from stellarsql_spark.registry import register

_B34_ORACLE = """
SELECT c_custkey,
       UPPER(c_name) AS name_up,
       LOWER(c_mktsegment) AS seg_low,
       LENGTH(c_name) AS name_len,
       SUBSTRING(c_name, 1, 8) AS name_pfx,
       CONCAT(c_mktsegment, ':', CAST(c_custkey AS VARCHAR)) AS seg_key,
       TRIM('  pad  ') AS trimmed,
       LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS key_pad,
       REGEXP_EXTRACT(c_name, '[0-9]+') AS name_digits,
       REGEXP_REPLACE(c_mktsegment, '[AEIOU]', '_', 'g') AS seg_novowel,
       STR_SPLIT(c_name, '#')[1] AS name_head
FROM customer
WHERE c_custkey < 500
"""


@register("b_fn_string", oracle=_B34_ORACLE, tags=("function", "string"))
def b_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, length, substring, concat, trim, pad,
    regex extract/replace, split."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_up"),
        F.lower("c_mktsegment").alias("seg_low"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_pfx"),
        F.concat_ws(":", "c_mktsegment", F.col("c_custkey").cast("string")).alias("seg_key"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_pad"),
        F.regexp_extract("c_name", "[0-9]+", 0).alias("name_digits"),
        F.regexp_replace("c_mktsegment", "[AEIOU]", "_").alias("seg_novowel"),
        F.split("c_name", "#").getItem(0).alias("name_head"),
    )


_B35_ORACLE = """
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INT) AS yr,
       CAST(MONTH(o_orderdate) AS INT) AS mo,
       CAST(DAYOFMONTH(o_orderdate) AS INT) AS dom,
       CAST(QUARTER(o_orderdate) AS INT) AS qtr,
       DATE_TRUNC('month', o_orderdate) AS month_start,
       o_orderdate + INTERVAL 30 DAY AS due_ts,
       CAST(DATEDIFF('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS INT) AS days_to_y2k,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS iso_day
FROM orders
WHERE o_orderkey < 1000
"""


@register("b_fn_datetime", oracle=_B35_ORACLE, tags=("function", "datetime"))
def b_fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: extract parts, trunc, interval arithmetic,
    datediff, epoch seconds, formatting (UTC session)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.datediff(F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
            "days_to_y2k"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


_B36_ORACLE = """
SELECT s_suppkey,
       ABS(s_acctbal) AS bal_abs,
       CAST(CEIL(s_acctbal) AS DOUBLE) AS bal_ceil,
       CAST(FLOOR(s_acctbal) AS DOUBLE) AS bal_floor,
       ROUND(s_acctbal / 7, 2) AS bal_div7,
       ROUND(SQRT(ABS(s_acctbal)), 6) AS bal_sqrt,
       ROUND(LN(ABS(s_acctbal) + 1), 6) AS bal_ln,
       ROUND(LOG10(ABS(s_acctbal) + 1), 6) AS bal_log10,
       ROUND(POW(s_suppkey, 2), 1) AS key_sq,
       CAST(s_suppkey % 7 AS BIGINT) AS key_mod,
       CAST(SIGN(s_acctbal) AS DOUBLE) AS bal_sign
FROM supplier
"""


@register("b_fn_math", oracle=_B36_ORACLE, tags=("function", "math"))
def b_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family (transcendentals rounded to 6 dp for cross-libm
    stability; integer pmod exact)."""
    s = load_table(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal")
    return s.select(
        "s_suppkey",
        F.abs(bal).alias("bal_abs"),
        F.ceil(bal).cast("double").alias("bal_ceil"),
        F.floor(bal).cast("double").alias("bal_floor"),
        F.round(bal / 7, 2).alias("bal_div7"),
        F.round(F.sqrt(F.abs(bal)), 6).alias("bal_sqrt"),
        F.round(F.log(F.abs(bal) + 1), 6).alias("bal_ln"),
        F.round(F.log10(F.abs(bal) + 1), 6).alias("bal_log10"),
        F.round(F.pow("s_suppkey", F.lit(2)), 1).alias("key_sq"),
        (F.col("s_suppkey") % 7).cast("bigint").alias("key_mod"),
        F.signum(bal).alias("bal_sign"),
    )


_B37_ORACLE = """
SELECT vec_id,
       len(embedding) AS dim,
       CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) AS first_two,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       CAST(list_max(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) AS DOUBLE) AS head_max,
       array_to_string(list_transform(embedding[1:3],
                                      x -> CAST(ROUND(CAST(x AS DOUBLE), 3) + 0 AS VARCHAR)), ';') AS head_str
FROM embeddings
"""


@register("b_fn_array", oracle=_B37_ORACLE, tags=("function", "array"))
def b_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family incl. higher-order transform/filter on the 64-d
    embedding column (float→double casts are exact)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        (
            F.element_at(emb, 1).cast("double") + F.element_at(emb, 2).cast("double")
        ).alias("first_two"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        F.array_max(F.transform(F.slice(emb, 1, 8), lambda x: x.cast("double"))).alias(
            "head_max"
        ),
        F.array_join(
            F.transform(
                F.slice(emb, 1, 3),
                lambda x: (F.round(x.cast("double"), 3) + F.lit(0.0)).cast("string"),
            ),
            ";",
        ).alias("head_str"),
    )


_B38_EXPLODE_ORACLE = """
SELECT e.event_id, t.pos, t.word
FROM (SELECT event_id, STR_SPLIT(event_type, '') AS chars FROM events WHERE event_id < 100) e,
     UNNEST(e.chars) WITH ORDINALITY AS t(word, pos)
"""


_B38_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_typed,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_valid(props) AS BOOLEAN) AS is_json
FROM events
WHERE event_id < 2000
"""


@register("b_fn_json", oracle=_B38_ORACLE, tags=("function", "json"))
def b_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: typed from_json, string-path extraction, validity."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("k_typed"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$").isNotNull().alias("is_json"),
    )


_MISC_ORACLE = """
SELECT c_custkey,
       GREATEST(c_acctbal, 1000.0) AS bal_floor1k,
       LEAST(c_acctbal, 5000.0) AS bal_cap5k,
       COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_nvl,
       levenshtein(c_mktsegment, 'BUILDING') AS seg_lev,
       CAST(c_custkey & 255 AS BIGINT) AS key_and,
       CAST(c_custkey | 1 AS BIGINT) AS key_or,
       CAST(xor(c_custkey, 42) AS BIGINT) AS key_xor,
       CAST(c_custkey << 2 AS BIGINT) AS key_shl
FROM customer
WHERE c_custkey < 300
"""


@register("b_fn_misc", oracle=_MISC_ORACLE, tags=("function", "misc"))
def b_fn_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """greatest/least, null-default, edit distance, bitwise ops."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.greatest("c_acctbal", F.lit(1000.0)).alias("bal_floor1k"),
        F.least("c_acctbal", F.lit(5000.0)).alias("bal_cap5k"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "seg_nvl"
        ),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_lev"),
        F.expr("c_custkey & 255").cast("bigint").alias("key_and"),
        F.expr("c_custkey | 1").cast("bigint").alias("key_or"),
        F.expr("c_custkey ^ 42").cast("bigint").alias("key_xor"),
        F.expr("shiftleft(c_custkey, 2)").cast("bigint").alias("key_shl"),
    )


_B37X_ORACLE = """
SELECT vec_id,
       CAST(unnest(range(0, len(embedding))) AS INT) AS pos0,
       unnest(embedding) AS val
FROM embeddings WHERE vec_id < 20
"""


@register("b_fn_explode", oracle=_B37X_ORACLE, tags=("function", "array", "explode"))
def b_fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — table-generating array expansion (0-based positions;
    oracle uses WITH ORDINALITY − 1)."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    return e.select("vec_id", F.posexplode("embedding").alias("pos0", "val"))


_DT2_ORACLE = """
SELECT o_orderkey,
       o_orderdate + INTERVAL 3 MONTH AS plus3m,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
       CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
WHERE o_orderkey < 500
"""


@register("b_fn_datetime2", oracle=_DT2_ORACLE, tags=("function", "datetime"))
def b_fn_datetime2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date/time family: month arithmetic, month-end, quarter,
    day-of-week (Spark counts Sunday=1, DuckDB Sunday=0 — oracle
    shifts), ISO week, year-month formatting."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("plus3m"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


_STRUCT_ORACLE = """
SELECT c_mktsegment AS seg,
       COUNT(*) AS n_rich,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
       MAX(CASE WHEN c_acctbal > 9000 THEN c_name END) AS top_name
FROM customer
WHERE c_acctbal > 5000
GROUP BY c_mktsegment
"""


@register("b_fn_struct", oracle=_STRUCT_ORACLE, tags=("function", "struct", "nested"))
def b_fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-typed columns: pack fields into a named struct, filter
    and aggregate through dot-path access. Catalyst flattens the
    struct accesses back to column references (CollapseProject +
    SimplifyExtractValueOps), so the parquet scan still prunes to the
    three source columns and the predicate still pushes down — the
    oracle is the equivalent flat query. The nested-type surface the
    reference's flat INT/FLOAT/CHAR model never had."""
    c = load_table(spark, sf_dir, "customer")
    packed = c.select(
        F.struct(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_name").alias("name"),
        ).alias("info")
    )
    return (
        packed.where(F.col("info.bal") > 5000)
        .groupBy(F.col("info.seg").alias("seg"))
        .agg(
            F.count("*").alias("n_rich"),
            F.max("info.bal").cast("double").alias("max_bal"),
            F.max(F.when(F.col("info.bal") > 9000, F.col("info.name"))).alias("top_name"),
        )
    )


_NULLS_ORACLE = """
SELECT o_orderkey,
       nullif(o_orderstatus, 'O') AS status_null,
       (nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL) AS nse_null,
       coalesce(nullif(o_orderstatus, 'O'), o_orderpriority, 'fallback') AS coal,
       ifnull(nullif(o_orderstatus, 'O'), '?') AS if_n,
       CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
            THEN 'present' ELSE 'absent' END AS nvl2_v,
       (o_orderkey IS DISTINCT FROM NULL) AS key_notnull
FROM orders
WHERE o_orderkey < 500
"""


@register("b_fn_nulls", oracle=_NULLS_ORACLE, tags=("function", "nulls"))
def b_fn_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics family: nullif to manufacture NULLs from the
    (NULL-free) corpus, then null-safe equality (`<=>` ==
    IS NOT DISTINCT FROM), coalesce chains, ifnull, and the nvl2
    presence switch — the semantics every engine must pin down
    identically for three-valued logic to round-trip."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    status_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        status_null.alias("status_null"),
        status_null.eqNullSafe(F.lit(None)).alias("nse_null"),
        F.coalesce(status_null, F.col("o_orderpriority"), F.lit("fallback")).alias("coal"),
        F.ifnull(status_null, F.lit("?")).alias("if_n"),
        F.nvl2(status_null, F.lit("present"), F.lit("absent")).alias("nvl2_v"),
        (~F.col("o_orderkey").eqNullSafe(F.lit(None))).alias("key_notnull"),
    )


_HOF_ORACLE = """
SELECT vec_id,
       array_to_string(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> CAST(CAST(ROUND(ROUND(x * 2, 4) * 10000, 0) AS BIGINT) AS VARCHAR)), ';') AS doubled_e4,
       len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0.5)) > 0 AS any_big,
       len(list_filter(CAST(embedding AS DOUBLE[]), x -> x < 2.0)) = len(embedding) AS all_small,
       ROUND(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> ABS(x)), 'sum'), 4) AS l1_norm,
       CAST(list_max(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS vmax
FROM embeddings
WHERE vec_id < 200
"""


@register("b_fn_hof", oracle=_HOF_ORACLE, tags=("function", "array", "hof"))
def b_fn_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform (stringified as integer
    1e-4 mantissas — raw double→string formatting diverges between
    engines on small values, 3.0E-4 vs 0.0003), exists / forall
    predicates, aggregate fold (L1 norm — absolute values keep the
    fold order-insensitive at 4 dp), and array_max. DuckDB's list_*
    family is the oracle twin."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(
                emb,
                lambda x: F.round(F.round(x * 2, 4) * 10000, 0).cast("bigint").cast("string"),
            ),
            ";",
        ).alias("doubled_e4"),
        F.exists(emb, lambda x: x > 0.5).alias("any_big"),
        F.forall(emb, lambda x: x < 2.0).alias("all_small"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + F.abs(x)), 4
        ).alias("l1_norm"),
        F.array_max(emb).alias("vmax"),
    )


_BITWISE_ORACLE = """
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | 4096 AS with_flag,
       xor(o_orderkey, 170) AS xored,
       o_orderkey << 3 AS shl3,
       o_orderkey >> 2 AS shr2,
       CAST(bit_count(o_orderkey) AS INT) AS popcount,
       ~o_orderkey AS inverted
FROM orders
WHERE o_orderkey < 200
"""


@register("b_fn_bitwise", oracle=_BITWISE_ORACLE, tags=("function", "bitwise"))
def b_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family: and/or/xor masks, shifts, popcount,
    complement — BIGINT in, BIGINT out, engine-exact by definition
    (the aggregate twin is b_agg_boolbit)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(170)).alias("xored"),
        F.expr("o_orderkey << 3").alias("shl3"),
        F.expr("o_orderkey >> 2").alias("shr2"),
        F.bit_count(k).alias("popcount"),
        F.expr("~o_orderkey").alias("inverted"),
    )


# URLs are synthesized from document metadata, so both engines parse
# identical well-formed strings; DuckDB has no parse_url, so the
# oracle re-extracts the components with anchored regexes.
_URL_ORACLE = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
           || '?lang=' || lang || '&n=' || CAST(n_chars AS VARCHAR) AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(url, '^https?://([^/]+)', 1) AS host,
       regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
       regexp_extract(url, '^([a-z]+)://', 1) AS protocol
FROM u
"""


@register("b_fn_url", oracle=_URL_ORACLE, tags=("function", "url"))
def b_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with the built-in parse_url (JVM-side;
    the oracle's regexes are the cross-engine twin): host, path,
    query string, a single query parameter, and the protocol."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars").cast("string"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url(url, F.lit("PROTOCOL")).alias("protocol"),
    )


_MASK_ORACLE = """
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
         AS name_masked,
       regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '#', 'g')
         AS name_custom,
       regexp_replace(c_name, '[0-9]', '9', 'g') AS digits_only,
       regexp_replace(regexp_replace(c_mktsegment,
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g') AS seg_masked
FROM customer
WHERE c_custkey % 17 = 0
"""


@register("b_fn_mask", oracle=_MASK_ORACLE, tags=("function", "mask", "privacy"))
def b_fn_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C96: data-masking family (`mask`, Spark 3.4+ / SQL:2023-era
    privacy surface). Default mask (upper→X, lower→x, digit→n, other
    kept), a custom character set, digit-only masking (upper/lower
    passed NULL = keep), and masking a pure-alpha column. JVM-side
    per-row work inside codegen — the PII-redaction twin of
    b_llm_scrub's regexp pipeline, and the oracle reproduces each
    variant with explicit regexp_replace chains (the corpus is ASCII,
    so the character classes agree across engines)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 17 == 0)
    return c.select(
        "c_custkey",
        F.expr("mask(c_name)").alias("name_masked"),
        F.expr("mask(c_name, 'U', 'l', '#')").alias("name_custom"),
        F.expr("mask(c_name, NULL, NULL, '9')").alias("digits_only"),
        F.expr("mask(c_mktsegment)").alias("seg_masked"),
    )


_TSARITH_ORACLE = """
SELECT event_id,
       date_diff('hour',  TIMESTAMP '2024-01-01 00:00:00', ts) AS h_elapsed,
       date_diff('day',   TIMESTAMP '2024-01-01 00:00:00', ts) AS d_elapsed,
       ts + INTERVAL 90 MINUTE  AS plus_90m,
       ts - INTERVAL 36 HOUR    AS minus_36h,
       ts + INTERVAL 1500 MILLISECOND AS plus_1500ms
FROM events
WHERE event_id % 83 = 0
"""


@register("b_fn_tsarith", oracle=_TSARITH_ORACLE, tags=("function", "datetime", "interval"))
def b_fn_tsarith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C97: SQL:2016 timestamp arithmetic — `timestampdiff` full
    units elapsed, `timestampadd` forward/backward, and sub-second
    day-time interval addition (`make_dt_interval`, exact at the
    corpus's µs resolution). The diff origin (2024-01-01 00:00, ≤
    min(ts)) sits ON the hour/day boundary, where Spark's
    elapsed-full-units semantics and DuckDB's boundary-crossing
    `date_diff` provably coincide: crossings from an aligned origin =
    floor(elapsed/unit). All six expressions are JVM codegen — no
    shuffle, scan + project only."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 83 == 0)
    return e.select(
        "event_id",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP '2024-01-01 00:00:00', ts)"
        ).alias("h_elapsed"),
        F.expr(
            "timestampdiff(DAY, TIMESTAMP '2024-01-01 00:00:00', ts)"
        ).alias("d_elapsed"),
        F.expr("timestampadd(MINUTE, 90, ts)").alias("plus_90m"),
        F.expr("timestampadd(HOUR, -36, ts)").alias("minus_36h"),
        (F.col("ts") + F.expr("make_dt_interval(0, 0, 0, 1.5)")).alias("plus_1500ms"),
    )


_STRING3_ORACLE = """
SELECT p_partkey,
       split_part(p_name, ' ', 2) AS name_second,
       CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INT) AS vowel_runs,
       CAST(CASE WHEN regexp_extract(p_name, 'o[a-z]') = '' THEN 0
            ELSE instr(p_name, regexp_extract(p_name, 'o[a-z]')) END AS INT)
         AS first_ox,
       array_to_string(list_transform(string_split(p_name, ' '),
                       w -> upper(w[1]) || substr(w, 2)), ' ') AS name_title,
       substr(p_type, 1, 2) || 'XX' || substr(p_type, 5) AS type_patched
FROM part
WHERE p_partkey % 13 = 0
"""


@register("b_fn_string3", oracle=_STRING3_ORACLE, tags=("function", "string"))
def b_fn_string3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C104: third string family — the SQL:2023/warehouse-parity
    functions beyond B34/C22: split_part (field extraction),
    regexp_count, regexp_instr (match position), initcap (title
    case), overlay (in-place splice). The oracle rebuilds each from
    DuckDB primitives (regexp_instr via instr-of-first-match — exact
    because regexp_extract returns the LEFTMOST match, so that
    substring's first occurrence IS the match position for
    self-contained patterns; initcap via per-word upper+substr —
    exact on the single-space-separated corpus)."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") % 13 == 0)
    return p.select(
        "p_partkey",
        F.expr("split_part(p_name, ' ', 2)").alias("name_second"),
        F.expr("regexp_count(p_name, '[aeiou]+')").alias("vowel_runs"),
        F.expr("regexp_instr(p_name, 'o[a-z]')").alias("first_ox"),
        F.initcap("p_name").alias("name_title"),
        F.expr("overlay(p_type, 'XX', 3, 2)").alias("type_patched"),
    )


# Map built per-row from order amounts (integer cents — exact), then
# pushed through every map higher-order function.  Keys are chosen so
# plain string sort of 'key=value' entries equals key order: base <
# disc < tax (and BASE < DISC < TAX).
_MAP_HOF_ENTRY = (
    "map('base', c, 'disc', c div 50, 'tax', (c * 7) div 100)"
)

_MAP_HOF_ORACLE = """
WITH m AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_orderkey % 29 = 0
),
v AS (
  SELECT o_orderkey, c, c // 50 AS disc, (c * 7) // 100 AS tax FROM m
)
SELECT o_orderkey,
       'base=' || c || ',disc=' || disc || ',tax=' || tax AS m_str,
       'base=' || (2*c) || ',disc=' || (2*disc) || ',tax=' || (2*tax) AS doubled,
       'BASE=' || c || ',DISC=' || disc || ',TAX=' || tax AS upper_keys,
       concat_ws(',',
         CASE WHEN c    > 100000 THEN 'base=' || c    END,
         CASE WHEN disc > 100000 THEN 'disc=' || disc END,
         CASE WHEN tax  > 100000 THEN 'tax='  || tax  END) AS big_only,
       'base=' || c || ',disc=' || disc || ',tax=' || tax AS rediff
FROM v
"""


@register("b_fn_map_hof", oracle=_MAP_HOF_ORACLE, tags=("function", "map", "hof"))
def b_fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C105: map higher-order functions — transform_values,
    transform_keys, map_filter, map_zip_with (the map twin of C41's
    array HOF family). Each result map is rendered as a sorted
    'key=value' entry string (key prefixes fix the sort order), which
    the oracle reconstructs arithmetically from the same integer-cents
    inputs — DuckDB needs no map type at all. map_zip_with recombines
    the doubled map with the original (b - a == v), proving the zip
    aligns keys, not positions. All JVM codegen; per-row constant-size
    maps, no shuffle."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 29 == 0)
    base = o.select(
        "o_orderkey",
        cents("o_totalprice").alias("c"),
    ).selectExpr("o_orderkey", f"{_MAP_HOF_ENTRY} AS m")

    def entry_str(expr: str) -> F.Column:
        return F.expr(
            "array_join(sort_array(transform(map_entries("
            + expr
            + "), e -> concat(e.key, '=', CAST(e.value AS STRING)))), ',')"
        )

    return base.select(
        "o_orderkey",
        entry_str("m").alias("m_str"),
        entry_str("transform_values(m, (k, v) -> v * 2)").alias("doubled"),
        entry_str("transform_keys(m, (k, v) -> upper(k))").alias("upper_keys"),
        entry_str("map_filter(m, (k, v) -> v > 100000)").alias("big_only"),
        entry_str(
            "map_zip_with(m, transform_values(m, (k, v) -> v * 3), (k, a, b) -> b - 2 * a)"
        ).alias("rediff"),
    )


# --- generator functions: posexplode / stack -------------------------

_GENERATORS_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE doc_id < 10
),
ex AS (
  SELECT doc_id,
         unnest(range(0, len(l))) AS pos,
         unnest(l) AS word
  FROM t
)
SELECT doc_id, pos, word, k,
       CASE k WHEN 'len' THEN length(word) ELSE ascii(word) END AS v
FROM ex CROSS JOIN (VALUES ('len'), ('ord')) s(k)
"""


@register("b_fn_generators", oracle=_GENERATORS_ORACLE, tags=("fn", "generator"))
def b_fn_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C128: generator functions — posexplode (explode WITH ORDINALITY:
    emits the 0-based position alongside each element, which plain
    explode loses) composed with stack (the row-generator inverse of
    pivot: each word fans out into ('len', length) and ('ord',
    ascii) feature rows — the long/tidy layout feature stores want).
    Both are map-side generators inside one codegen stage: rows fan
    out with NO shuffle, so at 100 TB the fan-out rides the scan.
    The oracle builds the same rows via DuckDB's zipped unnest +
    VALUES cross join."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 10)
    ex = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    return ex.selectExpr(
        "doc_id",
        "pos",
        "word",
        "inline(array(struct('len' AS k, CAST(length(word) AS INT) AS v),"
        " struct('ord' AS k, ascii(word) AS v)))",
    )


# --- regexp function family ------------------------------------------

_REGEXP_ORACLE = """
SELECT doc_id,
       COALESCE(len(regexp_extract_all(text, 'a[a-z]+')), 0) AS n_a_words,
       regexp_extract(text, '(v[a-z]+)', 1) AS first_v_word,
       COALESCE(array_to_string(regexp_extract_all(text, 'b[a-z]+'), ','), '') AS b_words,
       regexp_matches(text, 'vector') AS has_vector,
       length(regexp_replace(text, 'data', 'D', 'g')) AS len_replaced
FROM documents WHERE doc_id < 50
"""


@register("b_fn_regexp", oracle=_REGEXP_ORACLE, tags=("fn", "regexp"))
def b_fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C129: regular-expression family — regexp_count (via
    extract_all length, the portable spelling), first-match
    regexp_extract with a capture group, regexp_extract_all
    (re-joined to one string so the hash compare is array-layout
    independent), rlike, and global regexp_replace. Patterns stay in
    the Java-regex ∩ RE2 common dialect (character classes, groups —
    no lookaround/backrefs) so both engines match identically. All
    JVM-side codegen expressions — the map-only shape a 100 TB scrub
    pass needs; Spark's regexp kernels compile once per task, not
    per row."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, 'a[a-z]+', 0)")).alias("n_a_words"),
        F.regexp_extract("text", "(v[a-z]+)", 1).alias("first_v_word"),
        F.array_join(F.expr("regexp_extract_all(text, 'b[a-z]+', 0)"), ",").alias("b_words"),
        F.col("text").rlike("vector").alias("has_vector"),
        F.length(F.regexp_replace("text", "data", "D")).alias("len_replaced"),
    )


# --- Formatting-function parity (C193) -------------------------------------

# Cross-engine output formatting: zero-padded ids (printf %08d ≡
# lpad), thousands-grouped money strings built from the exact-cents
# integer (Spark format_number rounds HALF_UP on DOUBLES — never
# engine-format a float; group the integer's digit string instead),
# and pattern-formatted dates (Spark date_format uses JDK patterns,
# DuckDB strftime %-codes — 'yyyy-MM' ≡ '%Y-%m').
_FORMAT_ORACLE = """
SELECT o_orderkey,
       printf('%08d', o_orderkey) AS key_padded,
       format('{:,}', CAST(ROUND(100 * o_totalprice) AS BIGINT) // 100) AS dollars_grouped,
       strftime(o_orderdate, '%Y-%m') AS order_month,
       upper(substring(o_orderpriority, 3, 100)) || ' #' || CAST(o_orderkey AS VARCHAR) AS label
FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey
"""


@register("b_fn_format", oracle=_FORMAT_ORACLE, tags=("functions", "format"))
def b_fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C193: output-formatting parity — zero-padded keys, thousands-
    grouped dollar strings, yyyy-MM month labels, and concatenated
    display labels.  Formatting is where engines silently diverge
    (float rounding mode, locale grouping, pattern dialects); this
    key pins a cross-engine-stable recipe: pad/group INTEGER digit
    strings derived from exact cents, and match JDK date patterns to
    strftime codes explicitly.

    Map-side only; the LIMIT-by-key filter pushes to the scan."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 200)
    dollars = (cents("o_totalprice") / 100).cast("bigint")
    # thousands-group the digit string: format_number on a BIGINT is
    # exact (no float rounding enters)
    return o.select(
        "o_orderkey",
        F.lpad(F.col("o_orderkey").cast("string"), 8, "0").alias("key_padded"),
        F.format_number(dollars, 0).alias("dollars_grouped"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.concat(
            F.upper(F.expr("substring(o_orderpriority, 3)")),
            F.lit(" #"),
            F.col("o_orderkey").cast("string"),
        ).alias("label"),
    ).orderBy("o_orderkey")


# --- NETWORKDAYS: business-day arithmetic (C224) ------------------------------------

# Whole business days (Mon–Fri) between order and ship date — the
# spreadsheet NETWORKDAYS every analyst asks a warehouse for, as pure
# integer arithmetic: W(d) = weekdays in [0, d) = 5·(d div 7) +
# lookup[(d mod 7)], where epoch day 0 is a Thursday and the 7-entry
# cumulative lookup [0,1,2,2,2,3,4] counts weekdays in the remainder
# run (r=0 Thu, 1 Fri, 2 Sat, 3 Sun, 4 Mon, 5 Tue, 6 Wed).  No date
# functions at all, so the engines' dayofweek numbering disagreements
# never enter.
_NETWORKDAYS_ORACLE = """
WITH li AS (
  SELECT o.o_orderpriority AS pri,
         epoch_us(o.o_orderdate) // 86400000000 AS d1,
         epoch_us(l.l_shipdate) // 86400000000 AS d2
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
bd AS (
  SELECT pri,
         (5 * (d2 // 7) + ([0,1,2,2,2,3,4])[(d2 % 7) + 1])
         - (5 * (d1 // 7) + ([0,1,2,2,2,3,4])[(d1 % 7) + 1]) AS busdays
  FROM li
)
SELECT pri, COUNT(*) AS n,
       CAST(SUM(busdays) AS BIGINT) AS sum_busdays,
       CAST(MIN(busdays) AS BIGINT) AS min_busdays,
       CAST(MAX(busdays) AS BIGINT) AS max_busdays
FROM bd GROUP BY pri ORDER BY pri
"""


@register("b_fn_networkdays", oracle=_NETWORKDAYS_ORACLE, tags=("functions", "datetime", "busdays"))
def b_fn_networkdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C224: NETWORKDAYS — whole Mon-Fri business days between order
    and ship date, per order priority.  Neither engine has the
    builtin; the closed form W(d2) − W(d1) with
    W(d) = 5·(d div 7) + cumlookup[d mod 7] counts weekdays in [0, d)
    by pure integer arithmetic anchored on epoch day 0 = Thursday —
    no dayofweek(), whose numbering the engines disagree on.

    Scale shape: the fact join is the orderkey-bucketable equi-join
    every TPC-H key uses; the busdays expression is map-side integer
    math; output is a 5-row rollup with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lut = F.array(*[F.lit(x) for x in (0, 1, 2, 2, 2, 3, 4)])
    # epoch days here are all positive (post-1970 corpus), so div/mod
    # truncation vs floor never diverges; keep the simple form.
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("pri"),
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("d1"),
        F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
        .cast("bigint")
        .alias("d2"),
    )
    wexpr = lambda c: 5 * F.expr(f"{c} div 7") + F.element_at(
        lut, (F.col(c) % 7).cast("int") + 1
    )
    bd = joined.select(
        "pri",
        (wexpr("d2") - wexpr("d1")).cast("bigint").alias("busdays"),
    )
    return bd.groupBy("pri").agg(
        F.count("*").alias("n"),
        F.sum("busdays").cast("bigint").alias("sum_busdays"),
        F.min("busdays").cast("bigint").alias("min_busdays"),
        F.max("busdays").cast("bigint").alias("max_busdays"),
    )
