"""Oracle-checkable STREAMING keys (SURVEY.md §2 B42–B45).

Unlike ``streaming.windows`` (whose registry entries run the shared
logical plans in batch mode), every key here drives the REAL
Structured Streaming micro-batch engine — file source → stateful
operators → memory sink → ``processAllAvailable()`` — and returns the
drained sink as a batch DataFrame whose contents are deterministic,
so the driver can hash-compare it against a DuckDB oracle expressing
the same semantics in pure SQL:

- single-file sources make one micro-batch, so watermarks never drop
  anything and the streamed result must equal the batch aggregate;
- ``b_stream_late_drop`` splits events into TWO files with forced
  modification times and ``maxFilesPerTrigger=1``, so batch 1 advances
  the watermark and batch 2's too-late rows are provably dropped —
  the oracle reproduces the drop rule (window end ≤ watermark) and the
  append-mode emission rule in SQL.

State at 100 TB: every operator keys state by (window|user, group)
and bounds it with a watermark, so state size tracks the key space of
the *recent* data, not stream history.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.registry import register
from stellarsql_spark.streaming.runtime import (
    EVENTS_DDL,
    events_stream,
    run_to_memory,
    stream_shuffle_partitions,
    stream_static_join,
    stream_stream_join,
)
from stellarsql_spark.streaming.windows import tumbling_hourly

_VAL_SUM = 'CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)'

_RUN_TUMBLING_ORACLE = f"""
SELECT DATE_TRUNC('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {_VAL_SUM} AS total_value
FROM events
GROUP BY 1, 2
"""


@register("b_stream_run_tumbling", oracle=_RUN_TUMBLING_ORACLE, tags=("streaming", "runtime"))
def b_stream_run_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B39+B42 through the real engine: watermarked tumbling aggregate
    drained from a memory sink in complete mode. One source file → one
    micro-batch → the watermark drops nothing, so the streamed state
    must reproduce the batch aggregate bit-for-bit."""
    streamed = tumbling_hourly(events_stream(spark, sf_dir).withWatermark("ts", "2 hours"))
    return run_to_memory(streamed, output_mode="complete")


_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("b_stream_dedup", oracle=_DEDUP_ORACLE, tags=("streaming", "runtime", "dedup"))
def b_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B43 through the real engine: dropDuplicatesWithinWatermark keyed
    on (user_id, event_type). Which physical row survives depends on
    intra-batch order, so only the deterministic key columns are
    emitted — the drained sink must equal SELECT DISTINCT."""
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


_STATIC_JOIN_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_events
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@register("b_stream_static_join", oracle=_STATIC_JOIN_ORACLE, tags=("streaming", "runtime", "join"))
def b_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44 through the real engine: stream ⋈ broadcast static dimension,
    aggregated per segment, drained in complete mode."""
    return run_to_memory(stream_static_join(spark, sf_dir), output_mode="complete")


_STATEFUL_COUNT_ORACLE = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""


@register("b_stream_stateful_count", oracle=_STATEFUL_COUNT_ORACLE, tags=("streaming", "runtime", "stateful"))
def b_stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45 through the real engine: per-user running counter with
    explicit GroupState via applyInPandasWithState. A single drain sees
    every event exactly once, so the final state per user must equal
    the batch GROUP BY count."""
    from stellarsql_spark.streaming.runtime import stateful_running_count

    return run_to_memory(stateful_running_count(spark, sf_dir), output_mode="update")


_TWS_COUNT_ORACLE = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""


@register("b_stream_stateful_tws", oracle=_TWS_COUNT_ORACLE, tags=("streaming", "runtime", "stateful", "tws"))
def b_stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C33 through the real engine: the Spark-4 typed-state API
    (``transformWithStateInPandas`` + ValueState + RocksDB state
    store) running the per-user counter — the drained-sink twin of
    ``b_stream_stateful_count`` on the successor API.  One source file
    → one micro-batch → the final ValueState per user must equal the
    batch GROUP BY count.

    The TWS python workers need google.protobuf, which this container
    provisions via streaming/pbshim (see runtime.protobuf_available).
    If NO usable protobuf exists, the builder falls back to the
    applyInPandasWithState twin so the semantic contract stays
    driver-checkable — the fallback is env-gated, not silent: this
    docstring and the pbshim module are the record, and
    tests/test_streaming.py asserts the real TWS path wherever
    protobuf_available() is true (it is, here)."""
    from stellarsql_spark.streaming.runtime import (
        protobuf_available,
        stateful_running_count,
        tws_running_count,
    )

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        if protobuf_available():
            src = tws_running_count(spark, sf_dir)
        else:  # env-gated fallback, same semantics on the older API
            src = stateful_running_count(spark, sf_dir)
        return run_to_memory(src, output_mode="update")
    finally:
        # tws_running_count pins the RocksDB provider; don't leak it
        # into later streaming keys' state stores.
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


_STREAM_JOIN_ORACLE = """
SELECT c.user_id AS c_user,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("b_stream_stream_join", oracle=_STREAM_JOIN_ORACLE, tags=("streaming", "runtime", "join"))
def b_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream watermarked interval join through the real engine:
    click ⋈ purchase within the following hour. Inner joins emit
    matches as they arrive, so one drain equals the batch interval
    join."""
    return run_to_memory(stream_stream_join(spark, sf_dir), output_mode="append")


# --- genuine three-batch watermark late-drop -------------------------

_LATE_WM = "2 hours"

# The engine rules, established empirically on this Spark (see
# tests/test_streaming.py and the docstring below):
#   - the late-row filter of micro-batch N uses the watermark REPORTED
#     for batch N-1 (i.e. max event time through batch N-2 − delay) —
#     the filter lags the reported watermark by one batch, so batch 1
#     late rows still merge and only batch 2 can drop;
#   - a row is dropped iff its window END ≤ that filter watermark;
#   - append mode finally emits windows whose END ≤ the final
#     watermark (max event time over ALL input − delay; dropped rows
#     still advance it — the stats node sits above the source).
# Batch split: batch0 = event_id%4 ∈ {0,2}, batch1 = %4==1,
# batch2 = %4==3. So batch2's filter watermark derives from batch0.
_LATE_DROP_ORACLE = f"""
WITH wm1 AS (
  SELECT MAX(ts) - INTERVAL {_LATE_WM} AS w FROM events WHERE event_id % 4 IN (0, 2)
),
kept AS (
  SELECT * FROM events WHERE event_id % 4 <> 3
  UNION ALL
  SELECT e.* FROM events e, wm1
  WHERE e.event_id % 4 = 3
    AND DATE_TRUNC('hour', e.ts) + INTERVAL 1 HOUR > wm1.w
),
wmf AS (SELECT MAX(ts) - INTERVAL {_LATE_WM} AS w FROM events)
SELECT DATE_TRUNC('hour', k.ts) AS window_start,
       k.event_type,
       COUNT(*) AS n_events,
       {_VAL_SUM.replace('value', 'k.value')} AS total_value
FROM kept k, wmf
GROUP BY 1, 2, wmf.w
HAVING DATE_TRUNC('hour', MIN(k.ts)) + INTERVAL 1 HOUR <= wmf.w
"""


def _three_file_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write events split by event_id%4 into three single-file parquets
    with forced modification times, so FileStreamSource +
    maxFilesPerTrigger=1 yields exactly three ordered micro-batches.
    Idempotent per (scratch, sf, corpus version): the done-marker holds
    a fingerprint of the source events.parquet (size + mtime), so a
    regenerated corpus at the same path invalidates the cached split
    instead of silently streaming stale data."""
    from stellarsql_spark.artifacts import ensure
    from stellarsql_spark.catalog import table_path
    from stellarsql_spark.sources.io import SCRATCH_ROOT

    src_stat = os.stat(table_path(sf_dir, "events"))
    fingerprint = f"{src_stat.st_size}:{src_stat.st_mtime_ns}"
    tag = sf_dir.rstrip("/").replace("/", "_")
    d = os.path.join(SCRATCH_ROOT, f"late_drop3{tag}")

    def _build() -> None:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        ev = load_table(spark, sf_dir, "events").withColumn(
            "ts", F.unix_micros(F.col("ts"))  # keep BIGINT micros: EVENTS_DDL schema
        )
        splits = (
            (F.col("event_id") % 4).isin(0, 2),
            F.col("event_id") % 4 == 1,
            F.col("event_id") % 4 == 3,
        )
        for idx, pred in enumerate(splits):
            part_dir = os.path.join(d, f"_part{idx}")
            ev.where(pred).coalesce(1).write.mode("overwrite").parquet(part_dir)
            src = next(
                os.path.join(part_dir, f)
                for f in os.listdir(part_dir)
                if f.endswith(".parquet")
            )
            dst = os.path.join(d, f"batch{idx}.parquet")
            shutil.move(src, dst)
            shutil.rmtree(part_dir, ignore_errors=True)
            t = 1_600_000_000 + idx * 1000  # strictly increasing mtimes
            os.utime(dst, (t, t))

    ensure(d, "_SPLIT_DONE", fingerprint, _build, published=())
    return d


@register("b_stream_late_drop", oracle=_LATE_DROP_ORACLE, tags=("streaming", "runtime", "watermark"))
def b_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B42 through the real engine, with REAL late-data drops
    (numRowsDroppedByWatermark > 0): batches 0-1 advance the watermark
    and trigger append-mode emission/eviction, so batch 2's old rows
    arrive too late for their evicted windows and are dropped. File
    order is pinned via modification times, so the result — which
    differs from the batch aggregate precisely by the dropped rows and
    the unfinalized windows — is deterministic and the oracle
    reproduces the engine's drop + emission rules in SQL."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    d = _three_file_stream_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(EVENTS_DDL)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(os.path.join(d, "*.parquet"))
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.col("ts")))
    streamed = tumbling_hourly(ev.withWatermark("ts", _LATE_WM))
    return run_to_memory(streamed, output_mode="append")


_EXACTLY_ONCE_ORACLE = """
SELECT COUNT(*) AS rows_after_first_run,
       COUNT(*) AS rows_after_restart,
       TRUE AS no_duplicates
FROM events
"""


@register("b_stream_exactly_once", oracle=_EXACTLY_ONCE_ORACLE, tags=("streaming", "runtime", "sink"))
def b_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file sink: drain the event stream into a
    checkpointed parquet sink, then RESTART the query against the same
    checkpoint and drain again. The checkpoint's source log knows every
    input file was consumed and the sink's commit log makes replays
    idempotent, so the second run writes nothing — the oracle asserts
    both counts equal the batch count with no duplicates. This is the
    property that makes streaming ingestion safe to re-run at 100 TB."""
    from stellarsql_spark.sources.io import _scratch
    from stellarsql_spark.streaming.runtime import checkpointed_file_sink

    base = _scratch("exactly_once")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    n1 = checkpointed_file_sink(spark, sf_dir, out, ckpt)
    n2 = checkpointed_file_sink(spark, sf_dir, out, ckpt)  # restart: replays nothing
    return spark.createDataFrame(
        [(n1, n2, n1 == n2)],
        schema="rows_after_first_run bigint, rows_after_restart bigint, no_duplicates boolean",
    )


_FOREACH_BATCH_ORACLE = """
SELECT event_type, COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


@register("b_stream_foreachbatch", oracle=_FOREACH_BATCH_ORACLE, tags=("streaming", "runtime", "sink"))
def b_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch bridge to arbitrary batch sinks: the micro-batch
    engine hands each batch to plain batch code (here: per-batch
    partial rollups, one ``batch_id=N`` partition each — in production
    a JDBC write or MERGE). The reader re-aggregates the partials, so
    the result equals the batch GROUP BY for ANY micro-batch split of
    the source, not just the single-batch case."""
    from stellarsql_spark.sources.io import _scratch
    from stellarsql_spark.streaming.runtime import foreach_batch_agg

    base = _scratch("foreachbatch")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    foreach_batch_agg(spark, sf_dir, out, ckpt)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("n_events"))
    )


_RUN_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


@register("b_stream_run_session", oracle=_RUN_SESSION_ORACLE, tags=("streaming", "runtime", "session"))
def b_stream_run_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C88 through the real engine: gap-based session windows
    (session_window, 30-min gap) driven by the streaming state store
    — the MERGING session state implementation, not the batch
    gaps-and-islands rewrite.  Session aggregations reject update
    mode (sessions merge, so an update row could be superseded);
    complete mode + one source file → one micro-batch: every session
    reaches its final merged extent and the sink holds the whole
    result, so the drain must equal the batch session computation
    (same oracle as b_stream_session, which covers the batch twin).
    """
    from stellarsql_spark.streaming.windows import session_30m

    streamed = session_30m(
        events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    )
    return run_to_memory(streamed, output_mode="complete")


_STATE_READER_ORACLE = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""


@register("b_stream_state_reader", oracle=_STATE_READER_ORACLE, tags=("streaming", "runtime", "state-source"))
def b_stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C90: the state data source (Spark 4 `statestore` format) —
    offline introspection of a streaming checkpoint's state store as
    a batch DataFrame, the operational tool for debugging / auditing
    / migrating stateful pipelines without replaying them.

    The builder runs a checkpointed per-user count aggregation to
    completion, then reads the aggregation STATE back through
    ``spark.read.format("statestore")`` — key struct, value struct,
    and shard assignment — and the decoded state must equal the batch
    GROUP BY (every key in exactly one store shard).  Idempotent per
    corpus via the same fingerprint discipline as the late-drop split
    dir."""
    from stellarsql_spark.artifacts import ensure
    from stellarsql_spark.catalog import table_path
    from stellarsql_spark.sources.io import SCRATCH_ROOT

    src_stat = os.stat(table_path(sf_dir, "events"))
    # Session id is part of the fingerprint: the statestore source
    # resolves store providers through the session's
    # StateStoreCoordinator RPC endpoint, which exists only once a
    # streaming query has run in THIS session — a checkpoint inherited
    # from a previous session must be rebuilt, not just re-read.
    fingerprint = (
        f"{spark.sparkContext.applicationId}:"
        f"{src_stat.st_size}:{src_stat.st_mtime_ns}"
    )
    tag = sf_dir.rstrip("/").replace("/", "_")
    base = os.path.join(SCRATCH_ROOT, f"state_reader{tag}")
    ckpt = os.path.join(base, "ckpt")

    def _build() -> None:
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        counted = events_stream(spark, sf_dir).groupBy("user_id").count()
        q = (
            counted.writeStream.outputMode("update")
            .format("memory")
            .queryName(f"state_reader_{abs(hash(fingerprint)) % 10**8}")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    ensure(base, "_DONE", fingerprint, _build, published=())
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
    )


# Stream–stream LEFT OUTER join: the engine rules, established
# empirically on this Spark (probe session, round 5):
# - the query watermark is the MIN over both sides' (max event time −
#   delay) — a side whose traffic ends early holds the whole join's
#   watermark back;
# - an unmatched left row emits its null-padded result once NO future
#   right row could match it: cts + <upper bound> < watermark
#   (strict), evaluated in the no-new-data flush batch
#   processAllAvailable runs after the watermark advances;
# - matched rows emit as they match, exactly like the inner join.
_OUTER_JOIN_ORACLE = """
WITH c AS (SELECT user_id, event_id AS cid, ts AS cts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS pid, ts AS pts FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT LEAST((SELECT MAX(cts) FROM c), (SELECT MAX(pts) FROM p))
         - INTERVAL 30 MINUTE AS w
),
matched AS (
  SELECT c.user_id, c.cid, c.cts, p.pid, p.pts
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
)
SELECT user_id, cid AS click_id, cts AS click_ts,
       pid AS purchase_id, pts AS purchase_ts
FROM matched
UNION ALL
SELECT c.user_id, c.cid, c.cts,
       CAST(NULL AS BIGINT) AS purchase_id,
       CAST(NULL AS TIMESTAMP) AS purchase_ts
FROM c, wm
WHERE c.cid NOT IN (SELECT cid FROM matched)
  AND c.cts + INTERVAL 30 MINUTE < wm.w
"""


@register("b_stream_outer_join", oracle=_OUTER_JOIN_ORACLE, tags=("streaming", "runtime", "join", "outer"))
def b_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C91 through the real engine: watermarked stream–stream LEFT
    OUTER interval join — clicks pair with a following-30-minute
    purchase, and clicks provably unmatchable under the final
    watermark emit null-padded rows from join state eviction.  The
    oracle reproduces both emission rules in SQL (see the rule
    comment above): matches = the batch interval join; null rows =
    unmatched clicks whose match window closed strictly below the
    min-of-sides watermark.  Clicks inside the watermark margin stay
    buffered — exactly the bounded-state behavior that makes outer
    stream joins safe on unbounded streams."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("cid"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "30 minutes")
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("pid"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "30 minutes")
    )
    joined = clicks.join(
        purch,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    sink = run_to_memory(joined, output_mode="append")
    return sink.select(
        F.col("cu").alias("user_id"),
        F.col("cid").alias("click_id"),
        F.col("cts").alias("click_ts"),
        F.col("pid").alias("purchase_id"),
        F.col("pts").alias("purchase_ts"),
    )


_AVAILABLE_NOW_ORACLE = """
SELECT (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0) AS run1_rows,
       (SELECT COUNT(*) FROM events WHERE event_id % 2 = 1) AS run2_new_rows,
       COUNT(*) AS total_rows
FROM events
"""


@register("b_stream_available_now", oracle=_AVAILABLE_NOW_ORACLE, tags=("streaming", "runtime", "incremental"))
def b_stream_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C109: Trigger.AvailableNow incremental ingestion — the
    scheduled-batch streaming pattern (Spark 3.3+): each run drains
    everything currently available, commits the checkpoint, and
    EXITS. Between the two runs here a second generation of files
    lands in the source directory; the restarted query's file-source
    log discovers exactly the new files, so run 2 writes only the new
    rows (asserted: run1 + run2_new == total, each half exact). This
    is how a 100 TB lake runs "streaming" pipelines on a cron — same
    incremental source/sink/checkpoint machinery as the always-on
    query, rate-limits respected, zero always-on cluster.

    Differs from b_stream_exactly_once (restart over an UNCHANGED
    source proves idempotent replay): here the source GROWS between
    runs and the check is incremental pickup."""
    from stellarsql_spark.sources.io import _scratch

    base = _scratch("available_now")
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.unix_micros(F.col("ts"))  # BIGINT micros: EVENTS_DDL schema
    )

    def land(pred, tag: str) -> None:
        part = os.path.join(base, f"_gen_{tag}")
        ev.where(pred).coalesce(1).write.mode("overwrite").parquet(part)
        f = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        shutil.copyfile(os.path.join(part, f), os.path.join(src, f"{tag}.parquet"))

    def drain() -> int:
        q = (
            spark.readStream.schema(EVENTS_DDL)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).count()

    land(F.col("event_id") % 2 == 0, "gen1")
    n1 = drain()
    land(F.col("event_id") % 2 == 1, "gen2")
    n_total = drain()
    return spark.createDataFrame(
        [(n1, n_total - n1, n_total)],
        schema="run1_rows bigint, run2_new_rows bigint, total_rows bigint",
    )


# FULL OUTER extends the LEFT OUTER rules symmetrically (established
# empirically at sf0.01: engine emits 23 matched + 1981 click-only +
# 1956 purchase-only; the three SQL branches below reproduce exactly
# those sets):
# - unmatched clicks: the left-outer rule, cts + <upper bound> < wm;
# - unmatched purchases: pts < wm — once the watermark passes a
#   purchase's event time, any future click below it would itself be
#   late-dropped, so the row is provably unmatchable and its state
#   evicts. (Boundary strictness is unobservable on this corpus — no
#   row sits exactly on the watermark — so strict < is pinned to
#   mirror the click side.)
_FULL_OUTER_ORACLE = """
WITH c AS (SELECT user_id, event_id AS cid, ts AS cts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS pid, ts AS pts FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT LEAST((SELECT MAX(cts) FROM c), (SELECT MAX(pts) FROM p))
         - INTERVAL 30 MINUTE AS w
),
matched AS (
  SELECT c.user_id, c.cid, c.cts, p.pid, p.pts
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
)
SELECT user_id, cid AS click_id, cts AS click_ts,
       pid AS purchase_id, pts AS purchase_ts
FROM matched
UNION ALL
SELECT c.user_id, c.cid, c.cts,
       CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
FROM c, wm
WHERE c.cid NOT IN (SELECT cid FROM matched)
  AND c.cts + INTERVAL 30 MINUTE < wm.w
UNION ALL
SELECT p.user_id, CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       p.pid, p.pts
FROM p, wm
WHERE p.pid NOT IN (SELECT pid FROM matched)
  AND p.pts < wm.w
"""


@register("b_stream_full_outer", oracle=_FULL_OUTER_ORACLE, tags=("streaming", "runtime", "join", "outer"))
def b_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C111: watermarked stream–stream FULL OUTER interval join — the
    remaining cell of the outer-join matrix next to
    b_stream_stream_join (inner) and b_stream_outer_join (left).
    Both sides' state evicts on its own rule (see the rule comment),
    so clicks AND purchases each emit null-padded exactly once their
    match window provably closed under the min-of-sides watermark —
    bounded state on both sides of an unbounded join, the property
    that makes full-outer enrichment safe at 100 TB."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("cid"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "30 minutes")
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("pid"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "30 minutes")
    )
    joined = clicks.join(
        purch,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    )
    sink = run_to_memory(joined, output_mode="append")
    return sink.select(
        F.coalesce("cu", "pu").alias("user_id"),
        F.col("cid").alias("click_id"),
        F.col("cts").alias("click_ts"),
        F.col("pid").alias("purchase_id"),
        F.col("pts").alias("purchase_ts"),
    )


_PROGRESS_ORACLE = """
SELECT COUNT(*) AS input_rows_total,
       (SELECT COUNT(DISTINCT event_type) FROM events) AS sink_rows,
       TRUE AS state_rows_nonneg
FROM events
"""


@register("b_stream_progress", oracle=_PROGRESS_ORACLE, tags=("streaming", "runtime", "observability"))
def b_stream_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C119: StreamingQueryProgress observability — the metrics feed a
    production pipeline alarms on (input rows, state rows, batch
    count) read from the query's progress objects after a drain, the
    streaming twin of C65's batch Observation API. The deterministic
    core of the progress stream is certified against SQL: summed
    numInputRows over all batches must equal the source row count
    EXACTLY (conservation: the file source neither drops nor
    duplicates on the happy path), and the final state-operator row
    count equals the distinct group count. Timing fields
    (durationMs, rates) are real but nondeterministic, so the key
    reports only the conserved quantities."""
    import uuid as _uuid

    ev = events_stream(spark, sf_dir)
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    name = f"progress_{_uuid.uuid4().hex[:12]}"
    with stream_shuffle_partitions(spark):
        q = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            q.stop()
    input_rows = sum(p["numInputRows"] for p in progress)
    state_rows = max(
        (op["numRowsTotal"] for p in progress for op in p.get("stateOperators", [])),
        default=0,
    )
    sink_rows = spark.table(name).count()
    return spark.createDataFrame(
        [(input_rows, sink_rows, state_rows >= sink_rows)],
        schema="input_rows_total bigint, sink_rows bigint, state_rows_nonneg boolean",
    )


# --- Sliding window through the REAL engine (C248) ----------------------------------------

# Completes the run_* trio (tumbling C?/B42, session C88): the
# 1h/15min sliding aggregate executed by the actual micro-batch
# engine and drained from a memory sink.  The aggregate is
# streaming-legal (count + cents sum — exact COUNT DISTINCT is not
# allowed under streaming aggregation, which is why this form differs
# from the batch-plan key b_stream_sliding); every event lands in 4
# overlapping windows, which the oracle expands with an explicit
# 0..3 offset fan-out.
_RUN_SLIDING_ORACLE = """
SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL (k * 15) MINUTE AS window_start,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE)
           AS total_value
FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
GROUP BY 1
"""


@register("b_stream_run_sliding", oracle=_RUN_SLIDING_ORACLE, tags=("streaming", "runtime", "window", "eager"))
def b_stream_run_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C248: the sliding window through the REAL micro-batch engine —
    watermarked 1h/15min windows, complete mode, drained from the
    memory sink; the streamed state must reproduce the batch
    expansion bit-for-bit (the oracle fans each event into its 4
    windows explicitly).  With tumbling (B42) and session (C88) runs,
    all three window shapes are now certified on the actual engine,
    not just as shared batch plans.

    Scale shape: streaming state is one row per (open window), i.e.
    4× the tumbling key count — bounded by time span, not corpus; the
    money sum is the exact-cents convention."""
    from stellarsql_spark.functions.exact import cents

    streamed = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")) / 100.0).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    return run_to_memory(streamed, output_mode="complete")


# --- Multi-batch engine run (C263) ------------------------------------------

# Every other run_* key drains ONE source file = one micro-batch, so
# the state store is written once and never folded.  This key splits
# events into four TIME-QUARTILE files (equal ts-range intervals —
# deterministic arithmetic on min/max, no sampling) with strictly
# increasing mtimes, streams them at maxFilesPerTrigger=1, and drains
# the watermarked tumbling aggregate in complete mode: four genuine
# micro-batches, the watermark advancing between them, cross-batch
# (window, type) state FOLDING — and because the splits are
# time-ordered, no row ever falls behind the advancing watermark, so
# the final sink must still equal the batch SQL bit-for-bit.  (The
# late-drop semantics themselves are certified separately by
# b_stream_late_drop, where rows DO fall behind.)


def _multibatch_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    import glob

    from stellarsql_spark.artifacts import ensure
    from stellarsql_spark.catalog import content_fingerprint, table_path
    from stellarsql_spark.sources.io import SCRATCH_ROOT

    tag = sf_dir.rstrip("/").replace("/", "_")
    d = os.path.join(SCRATCH_ROOT, f"stream_events_mb{tag}")
    src = table_path(sf_dir, "events")
    # st only seeds the strictly-increasing utime base below; the
    # rebuild marker keys on the content listing (file corpora: size +
    # mtime; directory corpora: sorted member-file listing, so an
    # in-place rewrite of a same-named part file invalidates it too)
    st = os.stat(src)
    # :v2 = the second-granular mtime spacing below (the ns-spaced v1
    # splits tied within one JVM millisecond and streamed in arbitrary
    # listing order — caught by the r11 engine-drain window fuzz)
    fp = f"{content_fingerprint(src)}:{n_files}:v2"

    def _build() -> None:
        ev = load_table(spark, sf_dir, "events")
        lo, hi = ev.agg(
            F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
        ).first()
        span = max(1, hi - lo + 1)
        for i in range(n_files):
            cut_lo = lo + (span * i) // n_files
            cut_hi = lo + (span * (i + 1)) // n_files
            part = ev.where(
                (F.unix_micros("ts") >= cut_lo) & (F.unix_micros("ts") < cut_hi)
            )
            tmp = os.path.join(d, f"_tmp{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src_file = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(d, f"{i:02d}.parquet")
            shutil.move(src_file, dst)
            shutil.rmtree(tmp, ignore_errors=True)
            # FileStreamSource orders new files by modification time:
            # pin strictly increasing mtimes so batch i really carries
            # quartile i and the watermark only ever advances.  The
            # spacing must be ≥1ms — the JVM reads mtimes at MILLISECOND
            # granularity, so ns-apart stamps tie and the tie-break is
            # arbitrary listing order (a quartile carrying the global
            # max ts could then stream FIRST, advancing the watermark
            # past every later batch).  Whole seconds for margin.
            t_ns = st.st_mtime_ns + (i + 1) * 1_000_000_000
            os.utime(dst, ns=(t_ns, t_ns))

    # the split files are moved out of their parquet writes, so there
    # is no _SUCCESS to check
    ensure(d, "_MB_DONE", fp, _build, published=())
    return d


@register(
    "b_stream_run_multibatch",
    oracle=_RUN_TUMBLING_ORACLE,
    tags=("streaming", "runtime", "multibatch"),
)
def b_stream_run_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C263: the tumbling aggregate through FOUR real micro-batches —
    see the block comment above.  Result contract identical to
    b_stream_run_tumbling (shared oracle): state folding across
    batches must be invisible in the final answer."""
    from stellarsql_spark.catalog import table_path
    from stellarsql_spark.streaming.runtime import events_stream_from_dir, run_to_memory

    d = _multibatch_dir(spark, sf_dir)
    src = events_stream_from_dir(
        spark,
        d,
        schema_src=table_path(sf_dir, "events"),
        max_files_per_trigger=1,
    )
    streamed = tumbling_hourly(src.withWatermark("ts", "2 hours"))
    return run_to_memory(streamed, output_mode="complete")


# --- Kill-and-restart recovery (C264) ---------------------------------------

# b_stream_exactly_once certifies replay-idempotence and C263 certifies
# cross-batch state FOLDING; the leg neither covers is recovery across
# a PROCESS boundary: stop the query mid-stream, then restart a brand
# new query object against the same checkpoint with the remaining
# files.  This key stages the four time-quartile files (C263's split)
# into a fresh source dir two at a time: phase 1 drains quartiles 0-1
# (two micro-batches at maxFilesPerTrigger=1) and STOPS; phase 2 adds
# quartiles 2-3 and starts a NEW query on the SAME checkpoint — the
# offset log must skip the consumed files and the state store must
# restore the (window, type) aggregates, or the complete-mode sink
# cannot equal the batch SQL over all four quartiles.  Fresh
# checkpoint + staging dir per invocation (uuid-suffixed, removed in a
# finally) so re-runs always exercise the restart, never a warm no-op
# checkpoint whose drain would emit nothing.


@register(
    "b_stream_restart_recovery",
    oracle=_RUN_TUMBLING_ORACLE,
    tags=("streaming", "runtime", "recovery"),
)
def b_stream_restart_recovery(
    spark: SparkSession, sf_dir: str, _probe=None
) -> DataFrame:
    """C264: tumbling aggregate killed after batch 2 and restarted from
    its checkpoint — see the block comment above.  Result contract
    identical to b_stream_run_tumbling (shared oracle): crash recovery
    must be invisible in the final answer.

    ``_probe`` (tests only): callback ``(phase, ckpt_dir)`` invoked
    after each drain while the checkpoint still exists, so a test can
    assert the offset log really shows 2 committed batches at the kill
    point and 4 after recovery."""
    import uuid

    from stellarsql_spark.catalog import table_path
    from stellarsql_spark.sources.io import SCRATCH_ROOT
    from stellarsql_spark.streaming.runtime import events_stream_from_dir

    mb = _multibatch_dir(spark, sf_dir)
    files = sorted(
        f for f in os.listdir(mb) if f.endswith(".parquet")
    )
    work = os.path.join(SCRATCH_ROOT, f"stream_restart_{uuid.uuid4().hex[:12]}")
    src_dir = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src_dir)
    sink = f"restart_sink_{uuid.uuid4().hex[:8]}"

    def _stage(names) -> None:
        # hardlinks share the quartile files' pinned strictly-increasing
        # mtimes, so FileStreamSource's mtime ordering is preserved
        for n in names:
            os.link(os.path.join(mb, n), os.path.join(src_dir, n))

    def _drain() -> None:
        src = events_stream_from_dir(
            spark,
            src_dir,
            schema_src=table_path(sf_dir, "events"),
            max_files_per_trigger=1,
        )
        streamed = tumbling_hourly(src.withWatermark("ts", "2 hours"))
        q = (
            streamed.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    try:
        with stream_shuffle_partitions(spark):
            _stage(files[:2])
            _drain()  # phase 1: two micro-batches, then the query DIES
            if _probe is not None:
                _probe(1, ckpt)
            _stage(files[2:])
            _drain()  # phase 2: new query object, same checkpoint
            if _probe is not None:
                _probe(2, ckpt)
        # the memory sink table outlives the stopped query and does not
        # depend on the checkpoint, so the finally's rmtree is safe
        return spark.table(sink)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- Concurrent multi-query isolation (C275, r11 VERDICT #7) ------------------

# The runtime certifies single-query recovery (C264), replay-
# idempotence (C232), and cross-batch state folding (C263); this key
# certifies the remaining leg: TWO streaming queries running
# SIMULTANEOUSLY on one session — separate checkpoints, separate state
# stores, one shared file source directory — draining to independent
# sinks, with BOTH final answers equal to their batch SQL.  Both are
# started before either drains, so their micro-batches interleave on
# the shared scheduler: state isolation is exercised, not narrated.
# The two results union under a qtag with a harmonized schema so one
# hash covers both sinks.
_CONCURRENT_ORACLE = f"""
SELECT 'tumbling' AS qtag,
       epoch_us(DATE_TRUNC('hour', ts)) AS k_num,
       event_type AS k_str,
       COUNT(*) AS n_events,
       {_VAL_SUM} AS total_value
FROM events
GROUP BY 2, 3
UNION ALL
SELECT 'peruser' AS qtag,
       CAST(user_id AS BIGINT) AS k_num,
       CAST(NULL AS VARCHAR) AS k_str,
       COUNT(*) AS n_events,
       CAST(NULL AS DOUBLE) AS total_value
FROM events
GROUP BY 2
"""


@register(
    "b_stream_concurrent",
    oracle=_CONCURRENT_ORACLE,
    tags=("streaming", "runtime", "concurrent"),
)
def b_stream_concurrent(
    spark: SparkSession, sf_dir: str, _probe=None
) -> DataFrame:
    """C275: two simultaneous streaming queries on one session — the
    watermarked hourly tumbling aggregate and the per-user running
    count — each with its own checkpoint/state store, both fed by the
    SAME four-quartile multibatch source dir at maxFilesPerTrigger=1
    (four interleaving micro-batches per query).  See the block
    comment above for what this certifies.

    ``_probe`` (tests only): callback ``(ckpt_a, ckpt_b)`` invoked
    after both drains while the checkpoints still exist, so a test can
    assert each commit log independently recorded its 4 batches.

    At 100 TB this is the standard multi-tenancy shape: N independent
    streaming jobs share a source (bus topic / landing dir) and the
    isolation contract is per-query checkpoints + state stores —
    exactly what Structured Streaming scopes per query id."""
    import uuid

    from stellarsql_spark.catalog import table_path
    from stellarsql_spark.sources.io import SCRATCH_ROOT
    from stellarsql_spark.streaming.runtime import events_stream_from_dir

    mb = _multibatch_dir(spark, sf_dir)
    work = os.path.join(SCRATCH_ROOT, f"stream_conc_{uuid.uuid4().hex[:12]}")
    ckpt_a, ckpt_b = os.path.join(work, "ckpt_a"), os.path.join(work, "ckpt_b")
    sink_a = f"conc_tumbling_{uuid.uuid4().hex[:8]}"
    sink_b = f"conc_peruser_{uuid.uuid4().hex[:8]}"

    def _start(df, sink, ckpt):
        return (
            df.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    src = events_stream_from_dir(
        spark, mb, schema_src=table_path(sf_dir, "events"), max_files_per_trigger=1
    )
    qa = qb = None
    try:
        with stream_shuffle_partitions(spark):
            qa = _start(tumbling_hourly(src.withWatermark("ts", "2 hours")), sink_a, ckpt_a)
            qb = _start(
                src.groupBy("user_id").agg(F.count("*").alias("n_events")),
                sink_b,
                ckpt_b,
            )
            # both queries are live before either drain begins
            qa.processAllAvailable()
            qb.processAllAvailable()
        if _probe is not None:
            _probe(ckpt_a, ckpt_b)
        a = spark.table(sink_a).select(
            F.lit("tumbling").alias("qtag"),
            F.unix_micros("window_start").alias("k_num"),
            F.col("event_type").alias("k_str"),
            "n_events",
            "total_value",
        )
        b = spark.table(sink_b).select(
            F.lit("peruser").alias("qtag"),
            F.col("user_id").cast("bigint").alias("k_num"),
            F.lit(None).cast("string").alias("k_str"),
            "n_events",
            F.lit(None).cast("double").alias("total_value"),
        )
        return a.unionByName(b)
    finally:
        for q in (qa, qb):
            if q is not None:
                q.stop()
        shutil.rmtree(work, ignore_errors=True)
