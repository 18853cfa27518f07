"""Scaled-corpus synthesis: prove the overhead story with data.

At sf0.1 every headline query carries a fixed ~0.1-0.4 s of Spark
scheduling/codegen latency, so ratios vs an embedded single-node
engine are overhead artifacts (BASELINE.md). The honest counter-
evidence is a measured LARGER run: this module replicates the corpus
``factor``× with disjoint key spaces (each replica's keys shifted by
``i * STRIDE``), so every join/group structure scales linearly — a
10× corpus must cost far less than 10× the latency if (and only if)
the overhead story is true. bench.py runs the matched headline
queries at both scales and publishes the ratio.

Replicas are written once under ``<repo>/.scale/`` (gitignored) and
fingerprinted against the base corpus, so repeated bench runs reuse
them.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.artifacts import ensure
from stellarsql_spark.catalog import TABLES, load_table, table_path

# Key stride between replicas — larger than any key in the corpora
# (max sf0.1 key is ~600k), so replica key spaces are disjoint and
# each replica joins only with itself.
STRIDE = 10_000_000

# id columns shifted per replica; tables absent here (region, nation)
# are genuine fixed-size dimensions and are copied once, unshifted —
# the same thing TPC-H does at higher scale factors.
_SHIFT_COLS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _base_fingerprint(
    base_sf_dir: str, factor: int, tables: tuple[str, ...] | None = None
) -> str:
    # "v3": layout version — v2→v3 bumped when target-file sizing
    # switched from compressed bytes to DECODED Arrow bytes (see
    # _est_scan_bytes): replicated text compresses ~100:1 inside a
    # file, and the compressed-bytes formula gave documents@300× FIVE
    # single-row-group files — a hard 5-task scan floor on 32 cores
    # (the r7 cosine task-sizing bug, one level down, caught when the
    # r8 retrieval probe measured BM25 6.6× DuckDB purely on scan
    # parallelism). Bumping the tag invalidates every cached corpus
    # ON PURPOSE so they rebuild with the row-group layout the rule
    # requires.
    # The tables segment is ALWAYS present (empty string for the full
    # corpus): adding it in r7 was a one-time cache invalidation, and
    # every cache on disk now carries the 3-segment prefix — making
    # the segment conditional again would re-invalidate them, so the
    # unconditional form is the stable one (r8 ADVICE adjudication).
    parts = ["v3", str(factor), ",".join(sorted(tables or ()))]
    for t in TABLES:
        # driver base tables are single read-only files, so size+mtime
        # is exact here; keeping the historical format preserves every
        # cached .scale corpus (format changes force full rebuilds)
        st = os.stat(table_path(base_sf_dir, t))
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


_SCAN_BYTES_CACHE: dict[tuple[str, int], int] = {}


def _est_scan_bytes(path: str) -> int:
    """DECODED (Arrow in-memory) size of a base table — the number
    that predicts scan WORK. Compressed file size lies by the
    compression ratio (and for replicated text that ratio is ~100:1
    inside a file: dictionary pages swallow the repeats), and even
    footer total_byte_size is pre-dictionary-encoding. Target-file
    sizing from this value is the file-count analog of the
    never-size-tasks-by-compressed-bytes rule (similarity.scorer_width).
    Base tables are ≤ ~50 MiB so the one driver-side read is cheap;
    memoized per (path, mtime)."""
    import pyarrow.parquet as pq

    key = (path, os.stat(path).st_mtime_ns)
    if key not in _SCAN_BYTES_CACHE:
        _SCAN_BYTES_CACHE[key] = pq.read_table(path).nbytes
    return _SCAN_BYTES_CACHE[key]


def replicate_table(df: DataFrame, name: str, factor: int) -> DataFrame:
    """``factor`` disjoint-key copies of one table in a single pass:
    cross-join with a broadcast replica index and shift the id columns
    by ``replica * STRIDE`` (one scan, no per-copy union chain)."""
    # r14 ADVICE bound guard: the packed-long kernels
    # (operators.sorts._PK_MASK, the graph argmax) encode shifted keys
    # in a 34-bit field.  Base keys are < STRIDE by construction, so
    # factor * STRIDE bounds every shifted key; fail LOUDLY here — the
    # one place keys are shifted — instead of letting a >1717× corpus
    # silently corrupt packed ordering downstream.
    if factor * STRIDE >= 1 << 34:
        raise ValueError(
            f"replication factor {factor} pushes shifted keys past 2^34 "
            f"(factor * STRIDE = {factor * STRIDE}); the packed-long "
            f"kernels (operators.sorts) would corrupt ordering"
        )
    shift_cols = _SHIFT_COLS.get(name, ())
    if not shift_cols:
        return df
    replicas = df.sparkSession.range(factor).select(F.col("id").alias("_replica"))
    out = df.crossJoin(F.broadcast(replicas))
    for c in shift_cols:
        out = out.withColumn(c, F.col(c) + F.col("_replica") * F.lit(STRIDE))
    return out.drop("_replica")


def _ensure_corpus(
    spark: SparkSession,
    base_sf_dir: str,
    factor: int,
    out_root: str | None,
    replicated: tuple[str, ...] | None,
    suffix: str,
    variant: str = "",
    replicate: Callable[[DataFrame, str, int], DataFrame] = replicate_table,
) -> str:
    """The per-table loop every corpus builder shares: build (or reuse)
    ``<out_root>/<base tag><suffix>/`` (``out_root`` defaults to
    ``<repo>/.scale``), writing every base table through
    ``replicate(base, table, table_factor)`` — ``factor`` for the
    ``replicated`` tables (all when None), 1 for the others.
    ``variant`` extends the fingerprint with the builder's own knobs."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tag = os.path.basename(base_sf_dir.rstrip("/"))
    out_dir = os.path.join(out_root or os.path.join(repo, ".scale"), f"{tag}{suffix}")
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in TABLES}

    def _build() -> None:
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
        for t in TABLES:
            t_factor = factor if (replicated is None or t in replicated) else 1
            # One file per ~32 MiB of estimated DECODED output (Arrow
            # bytes — see _est_scan_bytes), like a real lake's many-file
            # layout. This is a measured fix (round 6, re-fixed in round
            # 8 when compressed-bytes sizing resurfaced on text): the
            # single-file writer produced orders@300× as ONE 500 MiB file
            # with FOUR 12M-row row groups, capping Spark's scan at 4-way
            # parallelism on 32 cores (b_join_inner 3.8 s; DuckDB, which
            # parallelizes inside a row group, was unaffected). File-level
            # parallelism is the layout knob a 100 TB lake actually has —
            # maxPartitionBytes can't split below row-group granularity.
            est_bytes = _est_scan_bytes(table_path(base_sf_dir, t)) * t_factor
            n_files = int(max(1, min(512, est_bytes // (32 << 20))))
            base = load_table(spark, base_sf_dir, t)
            if n_files > 1:
                # Parallelize the EXPLOSION, not its output: repartition
                # the small base table into n_files slices BEFORE the
                # replica cross-join, so each task independently explodes
                # and writes its slice ×factor — the only shuffle is the
                # megabyte-sized base table (a post-explosion repartition
                # would funnel the full factor× volume through one
                # single-task shuffle write: measured 16+ min for
                # lineitem@300× vs ~2 min this way).
                base = base.repartition(n_files)
            replicate(base, t, t_factor).write.mode("overwrite").parquet(paths[t])

    fingerprint = _base_fingerprint(base_sf_dir, factor, replicated) + variant
    ensure(out_dir, "_SCALED_DONE", fingerprint, _build, published=paths.values())
    return out_dir


def ensure_scaled_corpus(
    spark: SparkSession,
    base_sf_dir: str,
    factor: int,
    out_root: str | None = None,
    tables: tuple[str, ...] | None = None,
) -> str:
    """Build (or reuse) the ``factor``× corpus; returns its directory.

    ``tables`` restricts REPLICATION to a subset (the other tables are
    still copied at base size so every view registers) — the 1000×
    tier replicates only the five tables its probe queries touch,
    which keeps the one-off build at ~14 GiB instead of ~60 GiB."""
    suffix = f"_x{factor}" if tables is None else f"_x{factor}p{len(tables)}"
    return _ensure_corpus(spark, base_sf_dir, factor, out_root, tables, suffix)


# --- zipfian-skew corpus (r8): real join-key skew at depth ----------
#
# The uniform replicator above preserves each base table's key
# distribution, so orders⋈lineitem at every tier joins on DISJOINT
# UNIFORM keys — the skew operators were only ever *correctness*-
# tested under skew, never *measured* under it at depth.  This
# variant remaps a configurable share of
# lineitem's join key onto a few hot orderkeys with harmonic
# (zipf s=1) weights: hot key #j carries share HOT_SHARE·(1/j)/H_n,
# so the #1 key alone holds ~18% of all rows — the single-straggler
# geometry that serializes a shuffle join.  Both engines read the
# SAME skewed parquet, so the bench ratio isolates the engines'
# skew handling, not the generator.

ZIPF_HOT_KEYS = 8
ZIPF_HOT_SHARE = 0.5
_ZIPF_RES = 1_000_000  # integer resolution of the per-row uniform draw


def _zipf_thresholds() -> list[int]:
    """Cumulative integer thresholds: draw u ∈ [0, RES); u < t[j] ⇒
    hot key j (first match wins), u ≥ t[-1] ⇒ keep the original key."""
    hn = sum(1.0 / i for i in range(1, ZIPF_HOT_KEYS + 1))
    cum, out = 0.0, []
    for j in range(1, ZIPF_HOT_KEYS + 1):
        cum += ZIPF_HOT_SHARE * (1.0 / j) / hn
        out.append(int(cum * _ZIPF_RES))
    return out


def ensure_skewed_corpus(
    spark: SparkSession, base_sf_dir: str, factor: int, out_root: str | None = None
) -> str:
    """Build (or reuse) a ``factor``× corpus whose lineitem join key is
    zipfian-skewed onto ``ZIPF_HOT_KEYS`` real orderkeys.  Orders and
    lineitem replicate (disjoint keys, multi-file layout, same as
    ensure_scaled_corpus); every other table is copied base-size; then
    lineitem's l_orderkey is deterministically remapped row-by-row
    (xxhash64 draw — no RNG stream, rebuilds are identical).
    Referential integrity holds: hot keys are existing replica-0
    orderkeys, cold rows keep their original key."""
    def replicate(df: DataFrame, t: str, t_factor: int) -> DataFrame:
        scaled = replicate_table(df, t, t_factor)
        if t != "lineitem":
            return scaled
        hot = [
            r[0]
            for r in load_table(spark, base_sf_dir, "orders")
            .select("o_orderkey")
            .orderBy("o_orderkey")
            .limit(ZIPF_HOT_KEYS)
            .collect()
        ]
        thresholds = _zipf_thresholds()
        u = F.pmod(
            F.xxhash64("l_orderkey", "l_linenumber", "l_partkey"),
            F.lit(_ZIPF_RES),
        )
        remap = F.col("l_orderkey")
        for j in range(ZIPF_HOT_KEYS - 1, -1, -1):
            remap = F.when(u < thresholds[j], F.lit(hot[j])).otherwise(remap)
        return scaled.withColumn("l_orderkey", remap)

    return _ensure_corpus(
        spark, base_sf_dir, factor, out_root, ("orders", "lineitem"), f"_x{factor}z",
        f"|zipf:{ZIPF_HOT_KEYS}:{ZIPF_HOT_SHARE}", replicate,
    )


# --- time-shifted graph corpus (r12 VERDICT #2): depth for the graph tier ----
#
# The uniform replicator above keeps each replica's TIMESTAMPS, so on
# the co-occurrence graph (users linked by same event_type within the
# same minute) replicas all land in the SAME minute buckets — bucket
# population grows by the factor and the edge count grows
# QUADRATICALLY, which benchmarks bucket blowup, not a bigger graph.
# This variant additionally shifts each replica's timestamps by
# replica × TS_STRIDE_DAYS (wider than the base corpus's ~30-day
# span), so replicas are time-disjoint: the graph is ``factor``
# DISJOINT COPIES of the base graph — linear nodes/edges/components,
# constant local density and diameter.  That is the honest "100 TB of
# events" graph shape (more communities, not denser minutes), and it
# is also what keeps the DuckDB reachability twin finite: the
# recursive-CTE reach set is Σ s_c² over components, bounded by
# factor × s_base² here, vs (factor × s_base)² under shared minutes.
TS_STRIDE_DAYS = 64


def ensure_graph_corpus(
    spark: SparkSession, base_sf_dir: str, factor: int,
    out_root: str | None = None,
) -> str:
    """Build (or reuse) the ``factor``× TIME-SHIFTED events corpus for
    the graph depth tier; other tables are copied at base size so
    every view still registers."""
    def replicate(df: DataFrame, t: str, t_factor: int) -> DataFrame:
        if t != "events" or t_factor <= 1:
            return replicate_table(df, t, t_factor)
        replicas = spark.range(t_factor).select(F.col("id").alias("_replica"))
        return (
            df.crossJoin(F.broadcast(replicas))
            .withColumn("event_id", F.col("event_id") + F.col("_replica") * F.lit(STRIDE))
            .withColumn("user_id", F.col("user_id") + F.col("_replica") * F.lit(STRIDE))
            .withColumn(
                "ts",
                F.timestamp_micros(
                    F.unix_micros("ts")
                    + F.col("_replica") * F.lit(TS_STRIDE_DAYS * 86_400_000_000)
                ),
            )
            .drop("_replica")
        )

    # The ("events",) argument only tags WHICH table replicates; the
    # size+mtime segments inside _base_fingerprint always cover EVERY
    # base table (its `for t in TABLES` loop), so regenerating any
    # copied table — not just events — invalidates this corpus
    # (r13 ADVICE adjudication: the concern was already covered).
    return _ensure_corpus(
        spark, base_sf_dir, factor, out_root, ("events",), f"_x{factor}g",
        f"|graph:{TS_STRIDE_DAYS}", replicate,
    )
