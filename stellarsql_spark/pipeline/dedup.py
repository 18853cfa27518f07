"""Deduplication operators (SURVEY.md §2 B50–B51 + SimHash/Jaccard).

Scale design:
- exact dedup: hash → groupBy → keep-min. One shuffle on the 128-bit
  text hash; at 100 TB the hash column (16 B) is what shuffles, not
  the documents.
- n-gram Jaccard: inverted-index self-join on shingle (candidate pairs
  share ≥1 shingle) — never the O(n²) cross join. Skew guard: drop
  ubiquitous shingles (document frequency cap) before the join, the
  standard trick for power-law shingle distributions.
- SimHash: 60-bit fingerprint via md5-derived token hashes —
  bit-identical in Spark and DuckDB, so it carries a full hash oracle.
- MinHash-LSH: `pyspark.ml` MinHashLSH over shingle count-vectors —
  the approximate scale path (banding → bucket join), rows-only check.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.artifacts import ensure, ensure_bucketed_table, warehouse_path
from stellarsql_spark.catalog import content_fingerprint, load_table, table_path
from stellarsql_spark.registry import register

_B50_ORACLE = """
SELECT md5(lower(trim(text))) AS text_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("b_llm_dedup_exact", oracle=_B50_ORACLE, tags=("pipeline", "dedup"))
def b_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-text hash, keep lowest doc_id."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("text_hash", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


JACCARD_THRESHOLD = 0.2

_B51J_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shin AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
  FROM words
  WHERE len(w) >= 3
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM shin GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
  FROM shin a JOIN shin b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, n_common,
       CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
FROM pairs
JOIN counts ca ON doc1 = ca.doc_id
JOIN counts cb ON doc2 = cb.doc_id
WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}
"""


def shingles(col, k: int = 3):
    """Distinct k-word shingles of a space-tokenized text column.

    Total expression: for docs with < k tokens the index array is
    empty, never a DESCENDING sequence(1, size-k+1) whose element_at
    would trip ANSI bounds checks. The guard must live INSIDE the
    expression (not an upstream .where): Catalyst's inferred-filter-
    from-generate can inline this transform into a predicate that
    runs on unfiltered rows (seen live on a 1-token doc)."""
    words = F.split(col, " ")
    idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(1), F.size(words) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
        )
    )


@register("b_llm_jaccard", oracle=_B51J_ORACLE, tags=("pipeline", "dedup", "jaccard"))
def b_llm_jaccard(spark: SparkSession, sf_dir: str, df_cap: int | None = None) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index join
    (candidates must share a shingle; integer-ratio jaccard is exact).

    ``df_cap``: optional document-frequency cap — drop shingles that
    appear in more than df_cap docs before the self-join. This is the
    100 TB skew guard (hot shingles create quadratic bucket blowup);
    it makes candidate recall approximate, so the oracle-checked
    registry entry runs uncapped and the capped form is exercised in
    tests (tests/test_operators.py::test_jaccard_df_cap).
    """
    d = load_table(spark, sf_dir, "documents")
    docs = (
        d.where(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", shingles(F.col("text")).alias("sh_arr"))
    )
    shin = docs.select("doc_id", F.explode("sh_arr").alias("sh"))
    if df_cap is not None:
        # skew guard: hot shingles (df > cap) leave the candidate index;
        # scoring below still uses the FULL shingle sets, so capping
        # loses recall only — surviving pairs keep their exact score.
        rare = (
            shin.groupBy("sh")
            .agg(F.countDistinct("doc_id").alias("df"))
            .where(F.col("df") <= df_cap)
            .select("sh")
        )
        shin = shin.join(rare, "sh")
    a, b = shin.alias("a"), shin.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc1"), F.col("sh_arr").alias("sh1"))
    db = docs.select(F.col("doc_id").alias("doc2"), F.col("sh_arr").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jac = n_common.cast("double") / (F.size("sh1") + F.size("sh2") - n_common)
    return (
        cand.join(da, "doc1")
        .join(db, "doc2")
        .select("doc1", "doc2", n_common.alias("n_common"), jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# SimHash: 60-bit fingerprint. Token hash = first 15 hex chars of
# md5(token) parsed as an integer — reproducible in any engine with
# md5, which is what makes this variant hash-oracle-checkable.
_SIMHASH_ORACLE = """
WITH tokens AS (
  SELECT doc_id, word, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY doc_id, word
),
hashed AS (
  SELECT doc_id, cnt,
         CAST(concat('0x', substring(md5(word), 1, 15)) AS BIGINT) AS h
  FROM tokens
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
  FROM hashed, unnest(range(0, 60)) AS t(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits
GROUP BY doc_id
"""


@register("b_llm_simhash", oracle=_SIMHASH_ORACLE, tags=("pipeline", "dedup", "simhash"))
def b_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (60-bit, md5-token-hash based).

    Two shuffles, both on doc-bounded keys: (doc, word) token counts,
    then (doc, bit) majority vote — no pairwise work; near-dup lookup
    is then a hamming-ball probe on the fingerprint.
    """
    d = load_table(spark, sf_dir, "documents")
    tokens = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    hashed = tokens.withColumn(
        "h", F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("bigint")
    )
    bits = (
        hashed.select(
            "doc_id",
            "cnt",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b"),
        )
        .withColumn(
            "contrib",
            F.when(F.expr("(h >> b) & 1") == 1, F.col("cnt")).otherwise(-F.col("cnt")),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("s"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("simhash")
    )


N_MINHASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASHES // N_BANDS


@register("b_llm_dedup_near", oracle=None, tags=("pipeline", "dedup", "lsh", "approx"))
def b_llm_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, hand-rolled on built-ins (the
    banding scale path): 16 minhashes computed in ONE aggregation over
    the exploded shingles (16 xxhash64 seeds, map-side partial mins —
    constant state per doc), 4 bands of 4 hashed to bucket keys, an
    equi-join on (band, bucket) for candidates, then EXACT Jaccard
    verification of candidates from the full shingle sets. Candidate
    recall is probabilistic → rows-only check; xxhash64 makes every
    run deterministic. Replaces an earlier MLlib MinHashLSH version
    that fit a CountVectorizer vocabulary (a full extra pass) and was
    ~8× slower at sf0.1."""
    d = load_table(spark, sf_dir, "documents")
    docs = (
        d.where(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", shingles(F.col("text")).alias("sh_arr"))
        .where(F.size("sh_arr") > 0)
    )
    shin = docs.select("doc_id", F.explode("sh_arr").alias("sh"))
    sig = shin.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"mh{i}") for i in range(N_MINHASHES)]
    )
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.xxhash64(
                *[F.col(f"mh{j * ROWS_PER_BAND + k}") for k in range(ROWS_PER_BAND)], F.lit(j)
            ).alias("bkey"),
        )
        for j in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id", "b.band", "b.bkey"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc1"), F.col("sh_arr").alias("sh1"))
    db = docs.select(F.col("doc_id").alias("doc2"), F.col("sh_arr").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jac = n_common.cast("double") / (F.size("sh1") + F.size("sh2") - n_common)
    return (
        cand.join(da, "doc1")
        .join(db, "doc2")
        .select("doc1", "doc2", F.round(jac, 4).alias("jaccard_approx"))
        .where(F.col("jaccard_approx") >= JACCARD_THRESHOLD)
    )


# MinHash recall contract (mirrors b_llm_ann_recall for the vector
# tier): exact 3-gram Jaccard pairs are ground truth; the banded
# MinHash-LSH candidate path must recover >= 80% of each high-band
# truth set. Theory backs the bound: with 4 bands x 4 rows the
# per-pair candidate probability is 1-(1-j^4)^4 >= 0.88 at j=0.8 and
# rises toward 1; measured recall on the driver corpus is 1.0 at
# sf0.01 and sf0.1. n_truth comes from the exact computation both
# engines share, so the key carries a full hash oracle — a regression
# in signature computation, banding, or the bucket join flips the
# flag and fails the hash.
MINHASH_RECALL_BAND = 0.8

_MINHASH_RECALL_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shin AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
  FROM words
  WHERE len(w) >= 3
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM shin GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
  FROM shin a JOIN shin b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT FLOOR(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) * 10) / 10 AS jac_band
  FROM pairs
  JOIN counts ca ON doc1 = ca.doc_id
  JOIN counts cb ON doc2 = cb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= {MINHASH_RECALL_BAND}
)
SELECT jac_band, COUNT(*) AS n_truth, TRUE AS recall_ge_08
FROM truth GROUP BY jac_band
"""


@register("b_llm_minhash_recall", oracle=_MINHASH_RECALL_ORACLE, tags=("pipeline", "dedup", "quality"))
def b_llm_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality harness for the MinHash-LSH dedup tier: per jaccard
    decile band (>= 0.8, the near-dup regime banding is tuned for),
    count the exact-Jaccard ground-truth pairs and assert the LSH
    candidate path recovered >= 80% of them. Approximation quality as
    a tested, hash-checked contract — the dedup analogue of
    b_llm_ann_recall."""
    truth = b_llm_jaccard(spark, sf_dir).where(
        F.col("jaccard") >= MINHASH_RECALL_BAND
    ).select(
        "doc1",
        "doc2",
        (F.floor(F.col("jaccard") * 10) / 10).alias("jac_band"),
    )
    found = b_llm_dedup_near(spark, sf_dir).select(
        F.col("doc1").alias("f1"), F.col("doc2").alias("f2")
    )
    hits = truth.join(
        found, (truth.doc1 == found.f1) & (truth.doc2 == found.f2), "left"
    ).select("jac_band", F.col("f1").isNotNull().cast("int").alias("hit"))
    return hits.groupBy("jac_band").agg(
        F.count("*").alias("n_truth"),
        (F.sum("hit") >= F.lit(0.8) * F.count("*")).alias("recall_ge_08"),
    )


_EDITDIST_ORACLE = """
WITH p AS (
  SELECT doc_id, source,
         substring(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 40) AS head
  FROM documents
),
paired AS (
  SELECT source,
         LAG(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS id1,
         doc_id AS id2,
         LAG(head) OVER (PARTITION BY source ORDER BY doc_id) AS h1,
         head AS h2
  FROM p
)
SELECT id1, id2,
       levenshtein(h1, h2) AS edit_dist,
       ROUND(1.0 - levenshtein(h1, h2) / GREATEST(len(h1), len(h2)), 6) AS head_sim
FROM paired WHERE id1 IS NOT NULL
"""


@register("b_llm_editdist", oracle=_EDITDIST_ORACLE, tags=("pipeline", "dedup", "editdist"))
def b_llm_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification pass over candidate pairs — the
    character-level scorer a near-dup pipeline runs AFTER cheap
    blocking (here: consecutive doc_ids within a source; in the full
    pipeline: the MinHash/LSH candidates). Levenshtein is O(m·n) per
    pair, which is exactly why it must never see the n² pair space —
    only blocked candidates. Blocking = successive docs within a
    source (one lag window, no join at all). The head is ASCII-folded
    (non-printable/non-ASCII codepoints -> '?') BEFORE hashing out the
    distance: Spark's levenshtein counts codepoint edits while
    DuckDB's counts BYTE edits ('café'->'cafe' is 1 vs 2), so the
    cross-engine contract only holds on single-byte text; the fold is
    also what real near-dup scorers do to tame unicode confusables."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        "source",
        F.substring(F.regexp_replace("text", "[^ -~]", "?"), 1, 40).alias("head"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = p.select(
        F.lag("doc_id").over(w).alias("id1"),
        F.col("doc_id").alias("id2"),
        F.lag("head").over(w).alias("h1"),
        F.col("head").alias("h2"),
    ).where(F.col("id1").isNotNull())
    dist = F.levenshtein("h1", "h2")
    return paired.select(
        "id1",
        "id2",
        dist.alias("edit_dist"),
        F.round(
            F.lit(1.0) - dist / F.greatest(F.length("h1"), F.length("h2")), 6
        ).alias("head_sim"),
    )


# --- Asymmetric shingle containment (C214) ------------------------------------

# Doc-in-doc detection: Jaccard is blind to a short document wholly
# embedded in a long one (the union term swamps it), so near-dup
# pipelines run BOTH symmetric Jaccard and asymmetric containment
# |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) (Broder's formulation).  Same
# inverted-index candidate join as b_llm_jaccard — never all pairs —
# and the score is exact integer millionths.
_CONTAIN_THRESHOLD_M = 500_000

_CONTAIN_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shin AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
  FROM words
  WHERE len(w) >= 3
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM shin GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
  FROM shin a JOIN shin b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, n_common,
       CAST(ca.n AS BIGINT) AS n_sh1, CAST(cb.n AS BIGINT) AS n_sh2,
       CAST((1000000 * n_common) // LEAST(ca.n, cb.n) AS BIGINT)
           AS containment_m
FROM pairs
JOIN counts ca ON doc1 = ca.doc_id
JOIN counts cb ON doc2 = cb.doc_id
WHERE (1000000 * n_common) // LEAST(ca.n, cb.n) >= {_CONTAIN_THRESHOLD_M}
"""


@register("b_llm_containment", oracle=_CONTAIN_ORACLE, tags=("pipeline", "dedup", "containment"))
def b_llm_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C214: asymmetric shingle containment ≥ 0.5 — catches a short
    document embedded in a long one, which Jaccard's union
    denominator hides (a 10-shingle doc inside a 1000-shingle doc is
    J ≈ 0.01 but containment = 1.0).  Score is
    |S∩| / min(|S(a)|, |S(b)|) in EXACT integer millionths.

    Scale shape: identical to b_llm_jaccard — inverted-index
    candidate join on the shingle (only co-shingled pairs meet), one
    pair-keyed count, two slim joins against the per-doc shingle
    counts; the df-cap skew guard applies the same way."""
    d = load_table(spark, sf_dir, "documents")
    docs = (
        d.where(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", shingles(F.col("text")).alias("sh_arr"))
    )
    shin = docs.select("doc_id", F.explode("sh_arr").alias("sh"))
    counts = docs.select("doc_id", F.size("sh_arr").cast("bigint").alias("n"))
    a, b = shin.alias("a"), shin.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(counts.withColumnsRenamed({"doc_id": "doc1", "n": "n_sh1"}), "doc1")
        .join(counts.withColumnsRenamed({"doc_id": "doc2", "n": "n_sh2"}), "doc2")
        .select(
            "doc1",
            "doc2",
            "n_common",
            "n_sh1",
            "n_sh2",
            F.expr("(1000000 * n_common) div least(n_sh1, n_sh2)")
            .cast("bigint")
            .alias("containment_m"),
        )
        .where(F.col("containment_m") >= _CONTAIN_THRESHOLD_M)
    )


# --- SimHash banded near-dup pairs (C233) ------------------------------------------------

# The dedup HALF of SimHash (the C14 key only computes fingerprints):
# band the 60-bit fingerprint into 4x15 bits, candidates share >= 1
# band value, survivors pass the exact Hamming filter
# bit_count(xor) <= 6.  Pigeonhole gives a HARD recall guarantee
# inside the banding: any pair within Hamming 3 cannot differ in all
# 4 bands, so it is always a candidate; 4..6 are best-effort.  The
# whole thing is deterministic (same fingerprints both engines), so
# unlike MinHashLSH this banded join carries a full hash oracle.
_SIMHASH_BANDS, _SIMHASH_BAND_BITS, _SIMHASH_HAMMING_MAX = 4, 15, 6

_SIMHASH_DEDUP_ORACLE = f"""
WITH fp AS ({_SIMHASH_ORACLE}),
bands AS (
  SELECT doc_id, simhash, b,
         (simhash >> (b * {_SIMHASH_BAND_BITS})) & {(1 << _SIMHASH_BAND_BITS) - 1} AS bval
  FROM fp, unnest(range(0, {_SIMHASH_BANDS})) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, a.simhash AS h1,
                  c.doc_id AS doc2, c.simhash AS h2
  FROM bands a JOIN bands c
    ON a.b = c.b AND a.bval = c.bval AND a.doc_id < c.doc_id
)
SELECT doc1, doc2,
       CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(h1, h2)) <= {_SIMHASH_HAMMING_MAX}
ORDER BY doc1, doc2
"""


@register("b_llm_simhash_dedup", oracle=_SIMHASH_DEDUP_ORACLE, tags=("pipeline", "dedup", "simhash"))
def b_llm_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C233: SimHash near-dup PAIRS — 4x15-bit banding over the C14
    fingerprints (this builder composes b_llm_simhash), bucket join
    on (band, value), exact Hamming filter bit_count(xor) <= 6.
    Pigeonhole guarantee: Hamming <= 3 pairs can never differ in all
    4 bands, so banding recall is 1.0 there by construction (tested);
    and because the md5-derived fingerprints are engine-portable the
    whole candidate set is deterministic — this LSH variant gets a
    FULL hash oracle where MinHashLSH (b_llm_dedup_near) is
    rows-only.

    Scale shape: the banded self-join shuffles 4 slim (band, 15-bit
    value, doc) rows per doc — never documents, never all pairs; hot
    buckets are bounded by the 15-bit value space the same way the
    jaccard index caps shingle df."""
    fp = b_llm_simhash(spark, sf_dir)
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(b) for b in range(_SIMHASH_BANDS)])
        ).alias("b"),
    ).select(
        "doc_id",
        "simhash",
        "b",
        F.expr(f"shiftright(simhash, b * {_SIMHASH_BAND_BITS}) & {mask}").alias("bval"),
    )
    a, c = bands.alias("a"), bands.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.bval") == F.col("c.bval"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("a.simhash").alias("h1"),
            F.col("c.doc_id").alias("doc2"),
            F.col("c.simhash").alias("h2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("h1 ^ h2")).cast("bigint")
    return (
        cand.select("doc1", "doc2", hamming.alias("hamming"))
        .where(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
    )


# --- incremental (cross-corpus) dedup (C269) ---------------------------

_INCR_DEDUP_ORACLE = """
WITH hashed AS (
  SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents
),
newb AS (SELECT * FROM hashed WHERE doc_id % 3 = 0),
oldb AS (SELECT DISTINCT text_hash FROM hashed WHERE doc_id % 3 <> 0),
batch AS (
  SELECT text_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_in_batch
  FROM newb GROUP BY text_hash
)
SELECT b.doc_id, b.text_hash, b.n_in_batch
FROM batch b LEFT JOIN oldb o ON b.text_hash = o.text_hash
WHERE o.text_hash IS NULL
"""


@register("b_llm_dedup_incremental", oracle=_INCR_DEDUP_ORACLE,
          tags=("pipeline", "dedup", "incremental"))
def b_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C269: incremental dedup — the production shape b_llm_dedup_exact
    doesn't cover: dedup a NEW BATCH against an ALREADY-INGESTED corpus
    (here: doc_id % 3 == 0 plays the new crawl, the rest the standing
    corpus). Two stages, both on 16 B hashes:

    1. within-batch exact dedup (keep-min per normalized hash — the
       B50 rule applied to the batch alone);
    2. cross-corpus LEFT ANTI join of the surviving batch hashes
       against the standing corpus's hash set.

    At 100 TB the standing corpus's hash set is itself a maintained
    artifact (append survivors per batch — the same fold discipline as
    C260's rollup maintenance), and step 2 is a broadcast Bloom
    pre-filter (the b_join_bloom_prune pattern) in front of the anti
    join, so each new batch costs one batch-sized shuffle + one
    bloom-pruned probe — never a standing-corpus rescan. Here both
    sides derive from one table so the plan shows the honest anti-join
    core; the survivors (min doc_id, batch multiplicity) are the
    exact rows a shard writer would append."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "text_hash", F.md5(F.lower(F.trim(F.col("text"))))
    )
    newb = d.where(F.col("doc_id") % 3 == 0)
    oldb = d.where(F.col("doc_id") % 3 != 0).select("text_hash").distinct()
    batch = newb.groupBy("text_hash").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch")
    )
    return batch.join(oldb, "text_hash", "left_anti").select(
        "doc_id", "text_hash", "n_in_batch"
    )


# --- standing-corpus fold certification (C273, r11 VERDICT #6) ----------------

# C269 claims the standing hash set is a MAINTAINED ARTIFACT (C260's
# fold discipline), but derives both sides from one table per run.
# This key runs the actual maintenance loop: the corpus arrives as
# three batches (doc_id % 3 == 0, 1, 2, ingested in that order), and
# for each batch the pipeline (a) keep-min dedups within the batch,
# (b) anti-joins the survivors against the standing hash-set artifact
# ON DISK, (c) appends the survivors' hashes to produce the next
# standing artifact — survivors and hash sets are parquet files under
# the warehouse, fingerprint-markered like every layout artifact.  The
# oracle recomputes the keeper set from the FULL table in one shot
# (first batch containing a hash wins, min doc_id within it), so a
# hash match proves fold == full recompute — the merge property that
# makes incremental ingest safe, certified exactly how C260 certified
# C257's rollup.
_DEDUP_FOLD_ORACLE = """
WITH hashed AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch_id,
         md5(lower(trim(text))) AS text_hash
  FROM documents
),
grp AS (
  SELECT text_hash, batch_id, MIN(doc_id) AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_in_batch
  FROM hashed GROUP BY 1, 2
)
SELECT batch_id, doc_id, text_hash, n_in_batch FROM (
  SELECT grp.*,
         ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY batch_id) AS rn
  FROM grp
) WHERE rn = 1
"""


def ensure_dedup_hashset(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus fingerprint) the three-batch
    incremental-dedup run: per batch b ∈ {0,1,2},
    ``<root>/surv_b{b}/`` holds that batch's cross-corpus survivors
    and ``<root>/hashset_b{b}/`` the standing hash set AFTER folding
    batch b in.  Serialized + markered like the serving rollups.
    Returns the artifact root directory."""
    root = warehouse_path(spark, "dedup_fold", sf_dir)

    def _build() -> None:
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            (F.col("doc_id") % 3).cast("int").alias("batch_id"),
            F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"),
        )
        for b in range(3):
            batch = (
                d.where(F.col("batch_id") == b)
                .groupBy("text_hash")
                .agg(
                    F.min("doc_id").alias("doc_id"),
                    F.count("*").cast("bigint").alias("n_in_batch"),
                )
                .select(
                    F.lit(b).cast("int").alias("batch_id"),
                    "doc_id",
                    "text_hash",
                    "n_in_batch",
                )
            )
            if b == 0:
                surv = batch
            else:
                standing = spark.read.parquet(
                    os.path.join(root, f"hashset_b{b - 1}")
                )
                surv = batch.join(standing, "text_hash", "left_anti").select(
                    "batch_id", "doc_id", "text_hash", "n_in_batch"
                )
            surv.write.mode("overwrite").parquet(os.path.join(root, f"surv_b{b}"))
            # fold: standing set ∪ this batch's surviving hashes.  The
            # append touches |batch survivors| rows — never a rescan of
            # the standing set's SOURCE data (it reads only the 16 B/doc
            # hash artifact, which at 100 TB is the slim side).
            folded = spark.read.parquet(os.path.join(root, f"surv_b{b}")).select(
                "text_hash"
            )
            if b > 0:
                folded = (
                    spark.read.parquet(os.path.join(root, f"hashset_b{b - 1}"))
                    .select("text_hash")
                    .unionByName(folded)
                )
            folded.write.mode("overwrite").parquet(
                os.path.join(root, f"hashset_b{b}")
            )

    # the marker vouches for all six published directories, so one
    # deleted independently of it triggers a rebuild (r12 ADVICE)
    ensure(root, "_FOLD_DONE", content_fingerprint(table_path(sf_dir, "documents")),
           _build, published=(
               os.path.join(root, f"{kind}_b{b}")
               for b in range(3)
               for kind in ("surv", "hashset")
           ))
    return root


# --- bucketed standing-set incremental dedup (C284, r13 VERDICT #1) -----------

# Bucket count matches the custkey-bucketed layout's sizing note
# (sources/bucketed.py N_CK_BUCKETS): one bucket per local core here;
# a 1000-executor cluster sizes this to total cores like shuffle width.
N_HASHSET_BUCKETS = 32


def ensure_standing_hashset_bucketed(spark: SparkSession, sf_dir: str) -> str:
    """The standing corpus's DISTINCT hash set as a ``text_hash``-
    bucketed (and per-bucket sorted) catalog table — the LAYOUT form of
    the C269 probe's big side.

    C273 already certifies that the standing set is a maintained
    artifact (fold == full recompute); this ensure materializes that
    artifact hash-prefix-CO-LOCATED: ``bucketBy(N, text_hash)`` at
    write time plays the role the custkey buckets play for the join
    headline (sources/bucketed.py), so every future batch's anti-join
    probe is co-partitioned AT REST — the corpus-sized side of the
    probe never shuffles again, which is the write-path discipline a
    100 TB ingest pipeline applies once and amortizes over every
    batch.  Maintenance stays append-shaped: a batch's surviving
    hashes fold in bucket-aligned (same Murmur3 hash mod N), touching
    only the buckets its hashes land in.

    Same serialized fingerprint-marker protocol + metadata-only
    re-registration as every bucketed layout (r12 ADVICE)."""
    standing = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 != 0)
        .select(F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"))
        .distinct()
    )
    return ensure_bucketed_table(
        spark, "dedup_hashset_bk", sf_dir, standing, "text_hash", N_HASHSET_BUCKETS,
        f"hs1:{content_fingerprint(table_path(sf_dir, 'documents'))}:{N_HASHSET_BUCKETS}",
        sorted_by="text_hash",
    )


@register("b_llm_dedup_incremental_bucketed", oracle=_INCR_DEDUP_ORACLE,
          tags=("pipeline", "dedup", "incremental", "bucketed"))
def b_llm_dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C284: the C269 incremental-dedup probe on the BUCKETED standing
    hash set — the layout twin that closes the family's one >2× plain
    read (r13 VERDICT #1: 2.10× at 1000× docs, a data-term read ~7×
    the shuffle floor; SCALE.md round-14 decomposes it).

    Same result contract as b_llm_dedup_incremental (one shared
    oracle).  The plain probe's cost splits into (a) the batch-sized
    keep-min shuffle — irreducible, it IS the batch's first
    partitioning — and (b) hashing + DISTINCT-shuffling the ENTIRE
    standing corpus per call, which is re-deriving the maintained C273
    artifact from raw text every time.  This twin reads the artifact
    in its bucketed form instead: the anti-join is a bucket-aligned
    SortMergeJoin with ZERO exchange and ZERO sort on the standing
    side (plan-asserted in tests/test_round14.py) — at query time the
    standing corpus costs one column-pruned, partition-pruned-by-
    bucket scan of 16 B hashes, never a shuffle, no matter how many
    batches probe it.  The batch side keeps exactly its own
    batch-sized pre-agg exchange.

    The DuckDB oracle still re-derives the standing set from the raw
    parquet: the maintained bucketed artifact IS the Spark-side
    architecture being measured — the identical contract to
    b_join_inner_bucketed."""
    tname = ensure_standing_hashset_bucketed(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    batch = (
        d.where(F.col("doc_id") % 3 == 0)
        .select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch"))
    )
    # hint("merge"): pin the bucket-aligned SortMergeJoin — on toy data
    # the optimizer would rather broadcast the standing set, and the
    # broadcast is exactly the plan that stops existing at 100 TB.
    standing = spark.table(tname).hint("merge")
    return batch.join(standing, "text_hash", "left_anti").select(
        "doc_id", "text_hash", "n_in_batch"
    )


# --- Bloom-prefiltered incremental dedup (C278) -------------------------------

# C269's docstring names a broadcast Bloom pre-filter in front of the
# anti join as the 100 TB probe shape; this key SHIPS that filter as
# exact, engine-portable arithmetic so the whole pipeline (including
# which survivors were Bloom false positives) carries a hash oracle.
# The Bloom is the classic k=2 probes into m=2^16 bits; a bit
# position is 4 hex chars of md5(probe_index:hash) — the same
# digit-lookup idiom as the Count-Min sketch (aggregates._cms_bucket),
# so Spark (instr) and DuckDB (strpos) derive identical positions.
# Relationally the bitmap IS the ≤m-row DISTINCT position set of the
# standing corpus — bounded by m regardless of corpus size, which is
# exactly why it broadcasts where the unbounded standing hash set
# cannot.
_BLOOM_M = 65536
_BLOOM_K = 2


def _bloom_pos(fn: str, expr: str) -> str:
    """4-hex-char md5 prefix of ``expr`` → 0..65535, engine-portably
    (``fn`` = Spark ``instr`` / DuckDB ``strpos``)."""
    h = f"md5({expr})"
    terms = [
        f"(({fn}('0123456789abcdef', substring({h}, {c + 1}, 1)) - 1)"
        f" * {16 ** (3 - c)})"
        for c in range(4)
    ]
    return "(" + " + ".join(terms) + ")"


_BLOOM_VALS = ", ".join(f"({i})" for i in range(_BLOOM_K))

_DEDUP_BLOOM_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents
),
newb AS (SELECT * FROM hashed WHERE doc_id % 3 = 0),
oldb AS (SELECT DISTINCT text_hash FROM hashed WHERE doc_id % 3 <> 0),
batch AS (
  SELECT text_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_in_batch
  FROM newb GROUP BY text_hash
),
standing_pos AS (
  SELECT DISTINCT {_bloom_pos("strpos", "i || ':' || text_hash")} AS p
  FROM oldb CROSS JOIN (VALUES {_BLOOM_VALS}) s(i)
),
bp AS (
  SELECT text_hash, {_bloom_pos("strpos", "i || ':' || text_hash")} AS p
  FROM batch CROSS JOIN (VALUES {_BLOOM_VALS}) s(i)
),
pass AS (
  SELECT bp.text_hash, COUNT(sp.p) = {_BLOOM_K} AS maybe
  FROM bp LEFT JOIN standing_pos sp ON bp.p = sp.p
  GROUP BY bp.text_hash
)
SELECT b.doc_id, b.text_hash, b.n_in_batch, pass.maybe AS bloom_hit
FROM batch b JOIN pass USING (text_hash)
LEFT JOIN oldb o ON b.text_hash = o.text_hash
WHERE o.text_hash IS NULL
"""


@register("b_llm_dedup_bloom", oracle=_DEDUP_BLOOM_ORACLE,
          tags=("pipeline", "dedup", "incremental", "bloom"))
def b_llm_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C278: C269's incremental dedup with the claimed broadcast Bloom
    pre-filter actually in the plan — see the block comment above.

    Candidate routing (visible in the physical plan, which is the
    point): batch survivors whose k probe positions are NOT all set in
    the broadcast position table are DEFINITELY new — they skip the
    anti join entirely (a Bloom has no false negatives, by
    construction); only the `maybe` candidates probe the standing
    hash set, and the survivors among them are the Bloom's false
    positives, emitted as `bloom_hit` so the FP rate is pinned by the
    hash (engine-identical md5 position arithmetic), not sampled.
    Result rows = exactly C269's survivors (the Bloom only ever
    short-circuits rows the anti join would pass) — asserted in
    tests/test_round12.py.

    At 100 TB: the position table is ≤ 2^16 rows NO MATTER how large
    the standing corpus grows (a real deployment sizes m to the
    corpus; the bound-by-m broadcastability is the structural point),
    so each new batch pays one broadcast + map-side filter, and the
    expensive standing-set probe runs only on the ~FP-rate fraction
    that passes."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "text_hash", F.md5(F.lower(F.trim(F.col("text"))))
    )
    newb = d.where(F.col("doc_id") % 3 == 0)
    oldb = d.where(F.col("doc_id") % 3 != 0).select("text_hash").distinct()
    batch = newb.groupBy("text_hash").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch")
    )
    probes = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("i")
    pos_expr = _bloom_pos("instr", "i || ':' || text_hash")
    standing_pos = (
        oldb.select("text_hash", probes)
        .selectExpr(f"{pos_expr} AS p")
        .distinct()
    )
    bp = batch.select("text_hash", probes).selectExpr(
        "text_hash", f"{pos_expr} AS p"
    )
    passes = (
        bp.join(F.broadcast(standing_pos.withColumnRenamed("p", "sp")),
                F.col("p") == F.col("sp"), "left")
        .groupBy("text_hash")
        .agg((F.count("sp") == _BLOOM_K).alias("maybe"))
    )
    routed = batch.join(passes, "text_hash")
    definite_new = routed.where(~F.col("maybe"))
    fp_survivors = routed.where(F.col("maybe")).join(
        oldb, "text_hash", "left_anti"
    )
    return definite_new.unionByName(fp_survivors).select(
        "doc_id", "text_hash", "n_in_batch", F.col("maybe").alias("bloom_hit")
    )


@register("b_llm_dedup_fold", oracle=_DEDUP_FOLD_ORACLE,
          tags=("pipeline", "dedup", "incremental", "served"))
def b_llm_dedup_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C273: the standing-corpus fold, certified — see the block
    comment above ensure_dedup_hashset.  The returned frame is the
    union of the three batches' ON-DISK survivor artifacts; the oracle
    is the one-shot full recompute, so the driver hash certifies
    fold == full recompute (first batch containing a hash wins,
    keep-min within it).

    At 100 TB: each fold costs one batch-sized hash shuffle + one
    anti-join probe whose build side is the standing 16 B/doc hash
    artifact (broadcast-Bloom-prefiltered in the C269 plan); the
    standing artifact grows append-only by the survivors.  Nothing
    ever rescans previously-ingested text.
    tests/test_round12.py additionally asserts the final standing
    hash set equals the distinct hash set of the whole corpus and
    that the build is a fingerprinted no-op on re-call."""
    root = ensure_dedup_hashset(spark, sf_dir)
    parts = [
        spark.read.parquet(os.path.join(root, f"surv_b{b}")) for b in range(3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("batch_id", "doc_id", "text_hash", "n_in_batch")


# --- audit-dispatched incremental dedup (C282, r12 VERDICT #3) ----------------

# The decision bar, pinned like b_join_auto's 32 partitions: the
# verdict must be a corpus property both engines derive identically,
# not a session property.  The structural rule (SCALE.md round-12,
# the measured 300× negative): the Bloom prefilter is pure added
# latency while the standing hash set still BROADCASTS for the anti
# join — it pays only past the broadcast crossover, where the
# position table (≤ 2^16 rows forever) stays broadcastable after the
# hash set (16 B/doc, unbounded) stops being so.  A production
# deployment sizes this bar to spark.sql.autoBroadcastJoinThreshold
# (10 MB ≈ ~300k md5 rows); here it is pinned at 1000 so the shipped
# corpora exercise BOTH lanes through the key (sf0.01: 333 standing
# hashes → 'plain'; sf0.1: 3330 → 'bloom').
DEDUP_BLOOM_CROSSOVER = 1000


def choose_dedup_strategy(n_standing: int,
                          crossover: int = DEDUP_BLOOM_CROSSOVER) -> str:
    """'plain' while the standing hash set is broadcast-sized, 'bloom'
    once it outgrows the bar — the C278 crossover as a decision rule."""
    return "plain" if n_standing <= crossover else "bloom"


_DEDUP_AUTO_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents
),
newb AS (SELECT * FROM hashed WHERE doc_id % 3 = 0),
oldb AS (SELECT DISTINCT text_hash FROM hashed WHERE doc_id % 3 <> 0),
v AS (
  SELECT CASE WHEN COUNT(*) <= {DEDUP_BLOOM_CROSSOVER}
         THEN 'plain' ELSE 'bloom' END AS verdict
  FROM oldb
),
batch AS (
  SELECT text_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_in_batch
  FROM newb GROUP BY text_hash
)
SELECT v.verdict, s.doc_id, s.text_hash, s.n_in_batch
FROM v CROSS JOIN (
  SELECT b.doc_id, b.text_hash, b.n_in_batch
  FROM batch b LEFT JOIN oldb o ON b.text_hash = o.text_hash
  WHERE o.text_hash IS NULL
) s
UNION ALL
SELECT v.verdict, CAST(-1 AS BIGINT) AS doc_id, '__audit__' AS text_hash,
       (SELECT COUNT(*) FROM oldb) AS n_in_batch
FROM v
"""


@register("b_llm_dedup_auto", oracle=_DEDUP_AUTO_ORACLE,
          tags=("pipeline", "dedup", "incremental", "auto", "eager"))
def b_llm_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C282: b_join_auto's certified chooser pattern applied to the
    dedup family (r12 VERDICT #3) — audit the standing hash-set size,
    let ``choose_dedup_strategy`` pick the probe form, EXECUTE that
    lane, and emit the verdict beside the survivors.  The oracle
    replays the same audit + decision rule in SQL over the plain
    survivors, so the hash certifies BOTH that the chooser picked what
    the decision table says for this corpus AND that the dispatched
    lane is result-identical to the plain anti-join (C278's founding
    contract: the Bloom only ever short-circuits rows the anti join
    would pass).

    Lanes:
    - 'plain' → C269's anti-join (standing set broadcasts; a Bloom in
      front is the measured 300× negative — pure added latency);
    - 'bloom' → C278's broadcast-Bloom prefilter (standing set past
      the broadcast bar; only the ~FP-rate fraction probes it), with
      the bloom_hit audit column dropped to keep the contract
      lane-invariant.

    Cost shape: the audit is one |standing|-row distinct count — the
    same stats pass a warehouse keeps beside the artifact (the C273
    fold maintains the standing set ON DISK, so its row count is free
    metadata there; counting it per call is the honest uncached form,
    exactly b_join_auto's caveat).  tests/test_round13.py drives
    'plain' at sf0.01 (333 standing hashes) and 'bloom' at sf0.1
    (3330) THROUGH this key.

    One ``(verdict, -1, '__audit__', n_standing)`` row is appended
    UNCONDITIONALLY (r13 ADVICE): emitting the verdict only via a
    cross join against the survivor set made the certification
    vacuous on an all-duplicate batch (zero survivors ⇒ zero rows on
    both engines, any verdict "passes"); the audit row pins the
    verdict AND the audited standing-set count even when no survivor
    exists, and costs nothing — n_standing is already collected."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "text_hash", F.md5(F.lower(F.trim(F.col("text"))))
    )
    n_standing = (
        d.where(F.col("doc_id") % 3 != 0).select("text_hash").distinct().count()
    )
    verdict = choose_dedup_strategy(n_standing)
    if verdict == "bloom":
        lane = b_llm_dedup_bloom(spark, sf_dir).drop("bloom_hit")
    else:
        lane = b_llm_dedup_incremental(spark, sf_dir)
    audit = spark.range(1).select(
        F.lit(verdict).alias("verdict"),
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.lit("__audit__").alias("text_hash"),
        F.lit(n_standing).cast("bigint").alias("n_in_batch"),
    )
    return lane.select(
        F.lit(verdict).alias("verdict"), "doc_id", "text_hash", "n_in_batch"
    ).unionByName(audit)
