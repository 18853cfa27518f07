"""Tier A — reference-equivalent surface (SURVEY.md §2 A1–A6).

The reference StellarSQL implements CREATE DATABASE/TABLE with typed
columns, INSERT INTO ... VALUES, full-table scan, projection, rich
WHERE predicates, and a SQL-text entry path (lexer→parser→worker,
``src/sql/{lexer,parser,worker}.rs``, ``src/component/*.rs`` [pub,
unverified — see SURVEY.md §0]). Here each capability is expressed
with the idiomatic Spark primitive: StructType schemas + temp views
for DDL, ``createDataFrame`` + ``unionByName`` for INSERT,
``spark.read.parquet`` for scans, ``select``/``where`` for
projection/filter, and ``spark.sql`` (Spark's ANTLR parser + Catalyst)
replacing the reference's hand-rolled SQL front end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stellarsql_spark.catalog import load_table, register_views
from stellarsql_spark.registry import register

# A1 — CREATE TABLE with typed columns: declare the schema explicitly,
# load against it, and register in the session catalog via SQL DDL.
NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), False),
        T.StructField("n_name", T.StringType(), False),
        T.StructField("n_regionkey", T.IntegerType(), False),
    ]
)

_A1_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey, CAST(n_nationkey AS BIGINT) AS key_wide
FROM nation
"""


@register("a_create_load", oracle=_A1_ORACLE, tags=("tier_a", "ddl"))
def a_create_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE-TABLE-equivalent: typed schema + catalog registration.

    Validates the declared schema against the parquet footer (fails on
    drift, like the reference's fixed DDL schemas) and exercises SQL
    DDL through Spark's parser.
    """
    df = load_table(spark, sf_dir, "nation")
    declared = {f.name: f.dataType for f in NATION_SCHEMA.fields}
    actual = {f.name: f.dataType for f in df.schema.fields}
    if declared != actual:
        raise ValueError(f"schema drift: declared {declared} != parquet {actual}")
    df.createOrReplaceTempView("a1_nation")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW a1_nation_typed AS "
        "SELECT n_nationkey, n_name, n_regionkey, CAST(n_nationkey AS BIGINT) AS key_wide "
        "FROM a1_nation"
    )
    return spark.table("a1_nation_typed")


_A2_ORACLE = """
SELECT r_regionkey, r_name FROM region
UNION ALL
SELECT * FROM (VALUES (100, 'ATLANTIS'), (101, 'LEMURIA')) AS t(r_regionkey, r_name)
"""


@register("a_insert_roundtrip", oracle=_A2_ORACLE, tags=("tier_a", "insert"))
def a_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... VALUES: typed literal rows appended to a table.

    The reference encodes inserted rows through its bytescoder into the
    table file; Spark-native equivalent is ``createDataFrame`` with the
    table's schema + ``unionByName`` (schema-checked append).
    """
    region = load_table(spark, sf_dir, "region")
    new_rows = spark.createDataFrame(
        [(100, "ATLANTIS"), (101, "LEMURIA")], schema=region.schema
    )
    return region.unionByName(new_rows)


@register("a_scan", oracle="SELECT * FROM nation", tags=("tier_a", "scan"))
def a_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table scan (reference: diskinterface read + bytescoder decode)."""
    return load_table(spark, sf_dir, "nation")


@register(
    "a_project",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
    tags=("tier_a", "project"),
)
def a_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection — column pruning reaches the parquet scan via Catalyst."""
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


_A5_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE (o_totalprice > 150000.0 AND o_orderstatus = 'F')
   OR (o_totalprice <= 2000.0 AND o_orderstatus <> 'P')
   OR (NOT (o_custkey >= 10) AND o_totalprice < 500000.0)
"""


@register("a_filter_predicates", oracle=_A5_ORACLE, tags=("tier_a", "filter"))
def a_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE with =, <>, <, <=, >, >= composed with AND/OR/NOT."""
    o = load_table(spark, sf_dir, "orders")
    pred = (
        ((F.col("o_totalprice") > 150000.0) & (F.col("o_orderstatus") == "F"))
        | ((F.col("o_totalprice") <= 2000.0) & (F.col("o_orderstatus") != "P"))
        | (~(F.col("o_custkey") >= 10) & (F.col("o_totalprice") < 500000.0))
    )
    return o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").where(pred)


_A6_SQL = """
SELECT n.n_name, COUNT(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > 0
GROUP BY n.n_name
"""


@register("a_sql_text", oracle=_A6_SQL, tags=("tier_a", "sql"))
def a_sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text entry point: Spark's ANTLR parser + Analyzer + Catalyst
    replace the reference's lexer/parser/worker pipeline wholesale."""
    register_views(spark, sf_dir, ("customer", "nation"))
    return spark.sql(_A6_SQL)


# The final table contents after the DDL dance are a fixed literal —
# the oracle pins INSERT DEFAULT resolution, ALTER ADD COLUMN
# back-fill NULLs, and column order end-to-end.
_DDL_ORACLE = """
SELECT * FROM (VALUES
  (1, 'alice', 10.5, 'unknown'),
  (2, 'bob',    0.0, 'unknown'),
  (3, 'carol', 7.25, 'active')
) AS t(id, name, balance, status)
"""


@register("a_ddl_lifecycle", oracle=_DDL_ORACLE, tags=("tier_a", "ddl"))
def a_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DDL lifecycle through Spark SQL — the reference's core
    surface (CREATE DATABASE / CREATE TABLE with NOT NULL + DEFAULT /
    INSERT / ALTER ADD COLUMN / DROP; StellarSQL src/sql/parser.rs,
    src/component/{database,table,field}.rs [pub, unverified]).
    Runs against the in-memory session catalog, returns the final
    table contents — fully deterministic, so the oracle is the
    expected literal (DEFAULT fill-in, ALTER back-fill included)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS stellar_ddl")
    spark.sql("DROP TABLE IF EXISTS stellar_ddl.accounts")
    # a fresh session's in-memory catalog doesn't know a table a prior
    # session wrote, so the DROP above can no-op while the warehouse
    # directory survives — remove it or CREATE fails on the location
    import os
    import shutil

    from stellarsql_spark.artifacts import warehouse_dir

    stale = os.path.join(warehouse_dir(spark), "stellar_ddl.db", "accounts")
    if os.path.exists(stale):
        shutil.rmtree(stale)
    spark.sql(
        "CREATE TABLE stellar_ddl.accounts ("
        "  id INT NOT NULL,"
        "  name STRING NOT NULL,"
        "  balance DOUBLE DEFAULT 0.0"
        ") USING PARQUET"
    )
    spark.sql("INSERT INTO stellar_ddl.accounts VALUES (1, 'alice', 10.5), (2, 'bob', DEFAULT)")
    spark.sql("ALTER TABLE stellar_ddl.accounts ADD COLUMN status STRING")
    spark.sql("INSERT INTO stellar_ddl.accounts VALUES (3, 'carol', 7.25, 'active')")
    out = spark.sql(
        "SELECT id, name, balance, COALESCE(status, 'unknown') AS status "
        "FROM stellar_ddl.accounts ORDER BY id"
    )
    rows = out.collect()  # materialize before dropping the table
    spark.sql("DROP TABLE stellar_ddl.accounts")
    return spark.createDataFrame(rows, schema=out.schema)


# CHECK / NOT NULL enforcement (reference: CREATE TABLE field
# constraints, src/component/field.rs [pub, unverified]). Spark has no
# engine-enforced CHECK on plain parquet tables, so the engine's write
# path validates declaratively: one pass splits candidate rows into
# accepted/rejected with a reason — the pattern that scales (a filter,
# not a driver loop; rejects land in a quarantine sink in production).
_CONSTRAINT_ORACLE = """
WITH candidates AS (
  SELECT s_suppkey, s_name, s_acctbal FROM supplier
  UNION ALL
  SELECT * FROM (VALUES
    (90001, NULL, 500.0),
    (90002, 'sup_null_bal', NULL),
    (90003, 'sup_ok', 1.0)
  ) AS v(s_suppkey, s_name, s_acctbal)
),
checked AS (
  SELECT CASE
           WHEN s_name IS NULL THEN 'violates:name_not_null'
           WHEN s_acctbal IS NULL THEN 'violates:acctbal_not_null'
           WHEN s_acctbal < 0 THEN 'violates:acctbal_check'
           ELSE 'accepted'
         END AS verdict
  FROM candidates
)
SELECT verdict, COUNT(*) AS n_rows FROM checked GROUP BY verdict
"""


@register("a_constraint_enforce", oracle=_CONSTRAINT_ORACLE, tags=("tier_a", "ddl", "constraint"))
def a_constraint_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT NULL + CHECK constraint enforcement in the insert path:
    existing supplier rows plus a literal batch (with deliberate
    violations) are classified in one vectorized CASE — accepted rows
    would proceed to the write, rejects to a quarantine table."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    batch = spark.createDataFrame(
        [(90001, None, 500.0), (90002, "sup_null_bal", None), (90003, "sup_ok", 1.0)],
        schema="s_suppkey bigint, s_name string, s_acctbal double",
    )
    verdict = (
        F.when(F.col("s_name").isNull(), "violates:name_not_null")
        .when(F.col("s_acctbal").isNull(), "violates:acctbal_not_null")
        .when(F.col("s_acctbal") < 0, "violates:acctbal_check")
        .otherwise("accepted")
    )
    return (
        s.unionByName(batch)
        .select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count("*").alias("n_rows"))
    )
