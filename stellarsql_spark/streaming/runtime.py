"""Streaming runtime (SURVEY.md §2 B39–B45): run the shared logical
plans as real Structured Streaming queries.

Pattern: parquet file source → transform → memory sink →
``processAllAvailable()`` (synchronous drain), which exercises the
incremental micro-batch engine, state stores, and watermark tracking
without an external bus. At production scale the same code points at
Kafka and a real sink; nothing in the transforms changes.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table, table_path

# Schema for self-written stream inputs (parity.py writes ts as raw
# BIGINT epoch-micros). The events.parquet corpus itself is NOT read
# with this DDL — events_stream derives the schema from the parquet
# footer so corpus regenerations (ns longs → µs NTZ, observed between
# rounds) can't silently corrupt event time.
EVENTS_DDL = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _stream_dir(sf_dir: str) -> str:
    """FileStreamSource wants a directory; expose events.parquet through
    a per-SF symlink directory under the repo scratch area."""
    from stellarsql_spark.sources.io import SCRATCH_ROOT

    tag = sf_dir.rstrip("/").replace("/", "_")
    d = os.path.join(SCRATCH_ROOT, f"stream_events{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)
    return d


def events_stream_from_dir(
    spark: SparkSession,
    events_dir: str,
    schema_src: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A directory of events parquet files as a streaming source.

    ``max_files_per_trigger`` caps each micro-batch's file intake —
    the knob that turns a one-mega-batch drain into a genuine
    incremental run (used by bench.py's streaming throughput probe
    over the multi-file scaled corpora).  ``schema_src`` defaults to
    the directory itself (footer read)."""
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    physical = spark.read.parquet(schema_src or events_dir).schema
    reader = spark.readStream.schema(physical).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(events_dir)
    ts_type = physical["ts"].dataType
    if isinstance(ts_type, T.LongType):  # nanos file
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):  # µs NTZ file
        return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as a file-based streaming source.

    The read schema comes from the corpus parquet footer (one cheap
    batch footer read), then `ts` is normalized to µs TimestampType by
    the same rules as catalog.load_table — ns-long files divide by
    1000, µs-NTZ files cast (UTC identity). This keeps stream and
    batch event time byte-identical across corpus regenerations.
    """
    return events_stream_from_dir(
        spark, _stream_dir(sf_dir), schema_src=table_path(sf_dir, "events")
    )


# Measured on 4 cores against 1 and 32: the one-batch sf0.001
# tumbling drain ran 546-822 ms warm at 4, 423-737 at 1, 1338-1686 at
# 32; the 20k rows/s socket drain kept up at 1 and 4 and fell behind
# at 32. Over the b_stream_* keys at sf0.1, 1 partition left the
# Python state keys (applyInPandasWithState, transformWithState)
# about twice as slow as 4, which outweighed its gains elsewhere.
STREAM_SHUFFLE_PARTITIONS = 4


@contextmanager
def stream_shuffle_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to
    ``STREAM_SHUFFLE_PARTITIONS`` for the streaming queries started
    inside the block, then restore the caller's value (or unset it).

    The state-store partition count is fixed by this conf when a
    checkpoint is first created, so it is pinned here rather than
    inherited: the session default is ``max(cpus, 8)``,
    ``tune_for_data_size`` resizes it per corpus, and a vanilla
    session (the driver harness's) carries 200, which made a one-batch
    sf0.001 drain take 4.3-4.5 s against 1.1-1.6 s at 32 (4 cores).
    Every stateful stream the engine starts itself goes through this
    block, so its width does not depend on what ran earlier in the
    session. Restoring it keeps batch plans built later from
    inheriting a streaming-sized shuffle count (plan shapes must not
    depend on whether a streaming key ran first in the session)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a streaming DataFrame synchronously into a memory sink and
    return the sink contents as a batch DataFrame."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    with stream_shuffle_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def tumbling_with_watermark(spark: SparkSession, sf_dir: str, watermark: str = "2 hours") -> DataFrame:
    """B39+B42: tumbling agg with a watermark bounding window state."""
    from stellarsql_spark.streaming.windows import tumbling_hourly

    return tumbling_hourly(events_stream(spark, sf_dir).withWatermark("ts", watermark))


def stateful_dedup(spark: SparkSession, sf_dir: str, watermark: str = "2 hours") -> DataFrame:
    """B43: dropDuplicatesWithinWatermark on (user_id, event_type) —
    state is purged once the watermark passes, so memory is bounded."""
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type", "ts")
    )


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44: stream ⋈ static dimension (no state needed on the static
    side; at scale the static side is broadcast per micro-batch)."""
    stream = events_stream(spark, sf_dir)
    users = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    return (
        stream.join(F.broadcast(users), "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
    )


def stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45: arbitrary stateful op via applyInPandasWithState — a
    per-user running event counter with explicit GroupState."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        count = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    return (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join with watermarks + a range condition:
    pair each user's 'click' with a 'purchase' within the following
    hour. Both sides buffer state; the watermark + time bound let the
    engine evict matched/expired rows, keeping state finite on an
    unbounded stream — the canonical two-stream correlation pattern.
    """
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("c_user", "click_id", "click_ts", "purchase_id", "purchase_ts")


def checkpointed_file_sink(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> int:
    """Parquet sink + checkpoint: the exactly-once pattern. The
    checkpoint records which source files each batch consumed and the
    sink's file-commit log makes replays idempotent — restarting the
    query against the same checkpoint re-writes nothing. Returns rows
    visible in the sink after draining."""
    stream = events_stream(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out_dir).count()


def foreach_batch_agg(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    stream: DataFrame | None = None,
) -> None:
    """foreachBatch: run arbitrary batch logic (here: a per-event-type
    rollup) once per micro-batch — the bridge to sinks without native
    streaming support (JDBC, MERGE targets). Each batch overwrites ONLY
    its own ``batch_id=N`` partition: idempotent under replay (a
    replayed batch rewrites the same partition) AND cumulative (a
    multi-file or maxFilesPerTrigger source accumulates one partial
    rollup per batch — the reader re-aggregates across partitions, so
    the result never silently degrades to last-batch-only)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n_events"))
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
        )

    if stream is None:
        stream = events_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# --- google.protobuf environment shim --------------------------------
# The transformWithStateInPandas python workers speak a protobuf
# protocol to the JVM state server, so they need a real
# google.protobuf at import time.  This container has no protobuf
# install, but the host google-cloud-sdk vendors a pure-python 6.32.0
# copy; pbshim/sitecustomize.py makes it importable (and no-ops the
# 6.32-vs-6.33 gencode version gate — identical wire format).  Driver
# side: exec the shim in-process.  Worker side: the shim dir rides on
# the workers' PYTHONPATH via sc.environment, and `site` runs it at
# worker startup.  The shim must probe for google.protobuf.descriptor,
# not the bare package: Spark workers carry the spark-core JAR on
# sys.path and its embedded google/protobuf/*.proto resource dir
# satisfies `import google.protobuf` as an EMPTY namespace package.

_PBSHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pbshim")


def protobuf_available() -> bool:
    """True once a usable google.protobuf is importable in this
    process, applying the pbshim if needed.  Idempotent."""
    import importlib.util

    shim = os.path.join(_PBSHIM_DIR, "sitecustomize.py")
    try:
        spec = importlib.util.spec_from_file_location("_stellarsql_pbshim", shim)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    except (OSError, ImportError):
        pass
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _propagate_pbshim(spark: SparkSession) -> None:
    """Put the shim dir on the PYTHONPATH every python worker receives
    (sc.environment feeds the worker env), so `site` runs the shim at
    worker startup before pyspark imports StateMessage_pb2."""
    env = spark.sparkContext.environment
    current = env.get("PYTHONPATH", "")
    if _PBSHIM_DIR not in current.split(os.pathsep):
        env["PYTHONPATH"] = (
            _PBSHIM_DIR + (os.pathsep + current if current else "")
        )


def tws_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45/C33 on the Spark 4 transformWithStateInPandas API: the same
    per-user running counter as ``stateful_running_count`` but with
    typed, composable state (ValueState) and an explicit processor
    lifecycle — the successor to applyInPandasWithState, and the API
    that adds timers, TTL, and multiple state variables for production
    stateful pipelines.  Raises RuntimeError where no usable
    google.protobuf can be provisioned (the TWS worker protocol needs
    it)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if not protobuf_available():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf and no "
            "usable copy could be provisioned (see streaming/pbshim)"
        )
    _propagate_pbshim(spark)

    # transformWithState requires the RocksDB state store (the default
    # HDFS-backed store doesn't support its typed-state layout)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    return (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningCount(),
            outputStructType="user_id bigint, n_events bigint",
            outputMode="Update",
            timeMode="None",
        )
    )


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Network-attached text stream over a TCP socket — the
    line-per-record source Structured Streaming ships for exactly this
    shape.  Each line is parsed as the events CSV projection
    ``event_id,ts_us,user_id,event_type,value`` into typed columns, so
    every downstream transform (tumbling windows, watermarks, stateful
    dedup) is byte-compatible with the file-source pipelines.

    This closes the "no network-attached source exercised" gap within
    the sandbox's reach: localhost TCP needs no external bus, but the
    source IS the push-based network path (driver-side listener →
    micro-batch), unlike the file source's directory polling.  At
    production scale the same parse swaps the socket for Kafka's
    ``value`` column; nothing downstream changes.  Spark documents the
    socket source as at-most-once / non-replayable — appropriate for
    the parity tests that drive it, never for durable pipelines."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    parts = F.split(F.col("value"), ",")
    return raw.select(
        parts.getItem(0).cast("bigint").alias("event_id"),
        F.timestamp_micros(parts.getItem(1).cast("bigint")).alias("ts"),
        parts.getItem(2).cast("bigint").alias("user_id"),
        parts.getItem(3).alias("event_type"),
        parts.getItem(4).cast("double").alias("value"),
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """The built-in rate source: monotonically increasing (timestamp,
    value) rows generated executor-side — the standard
    load-generation / backpressure-probe source.  Projected into the
    events shape (value → event_id, synthetic round-robin user/type)
    so the shared transforms run unchanged on generated load."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 97).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 1000).cast("double").alias("value"),
    )


def _drain_windowed(
    src: DataFrame, window, watermark, prefix, trigger_ms, min_batches, timeout_s, on_stop=None
) -> list[dict]:
    """Run the watermarked tumbling count/sum of ``src`` per event type
    in update mode into a memory sink on a processing-time trigger,
    inside ``stream_shuffle_partitions``, until it has run
    ``min_batches`` non-empty micro-batches or ``timeout_s`` passed;
    return each non-empty batch's ops metrics. ``on_stop`` runs just
    before the query stops."""
    import time

    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
    with stream_shuffle_partitions(src.sparkSession):
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(f"{prefix}_{uuid.uuid4().hex[:12]}")
            .trigger(processingTime=f"{trigger_ms} milliseconds")
            .start()
        )
        try:
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
                if len(nonempty) >= min_batches:
                    break
                time.sleep(0.25)
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            if on_stop is not None:
                on_stop()
            q.stop()
    return [
        {
            "batch_id": p["batchId"],
            "input_rows": p["numInputRows"],
            "duration_ms": p["batchDuration"],
            "state_rows": sum(
                op["numRowsTotal"] for op in p.get("stateOperators", [])
            ),
            "trigger_ms": trigger_ms,
        }
        for p in progress
    ]


def sustained_rate_drain(
    spark: SparkSession,
    rows_per_second: int = 5000,
    min_batches: int = 8,
    trigger_ms: int = 1000,
    window: str = "1 second",
    watermark: str = "2 seconds",
    timeout_s: float = 120.0,
) -> list[dict]:
    """Run the watermarked tumbling aggregate against a RATE-PINNED
    source for at least ``min_batches`` non-empty micro-batches and
    return each batch's ops metrics — the end-to-end THROUGHPUT
    contract (r12 VERDICT #7): at 100 TB the streaming ops question is
    lag and state growth under sustained input, not one-shot drain
    correctness (which the run_* keys certify).

    What bounded lag / bounded state require structurally, and what
    the returned metrics let a test assert:
    - ``duration_ms`` (batchDuration) staying under the trigger
      interval means the pipeline keeps up at the pinned rate — lag
      does not accumulate across batches;
    - ``state_rows`` (stateOperators numRowsTotal) staying flat means
      the watermark actually EVICTS closed windows: live state is
      bounded by (watermark + window)/window window-starts × |groups|
      regardless of how long the query runs — the property that keeps
      a perpetual query's memory constant.
    The rate source is Spark's standard load generator; swapping it
    for Kafka changes only the source options, nothing downstream
    (socket_stream's note).  Uses update mode + processing-time
    trigger — the perpetual-query deployment shape, unlike the
    processAllAvailable() drains used for result parity."""
    return _drain_windowed(
        rate_stream(spark, rows_per_second), window, watermark, "rate_drain",
        trigger_ms, min_batches, timeout_s,
    )


def sustained_socket_drain(
    spark: SparkSession,
    rows_per_second: int = 20_000,
    min_batches: int = 8,
    trigger_ms: int = 1000,
    window: str = "1 second",
    watermark: str = "2 seconds",
    timeout_s: float = 120.0,
) -> list[dict]:
    """``sustained_rate_drain``'s contract on the PUSH path: a paced
    localhost feeder streams the events CSV over one TCP connection at
    a pinned rate while the watermarked tumbling aggregate drains it
    through the SOCKET source — update mode, processing-time trigger,
    per-batch ops metrics returned for the same bounded-lag /
    bounded-state assertions (r13 VERDICT #5).

    Why the pinned rate sits well under the file source's: Spark's
    socket source (TextSocketMicroBatchStream in the public Spark
    tree) ingests on the DRIVER with a single reader thread — one
    BufferedReader.readLine() per record appended to a lock-guarded
    batch buffer, then each micro-batch re-serializes the buffered
    rows out to executors.  That per-line, single-threaded, driver-
    memory path is the structural ceiling the bench's one-shot probe
    measures at ~42k rows/s on this host (vs 620k+ for the file
    source, whose readers are executor-side and columnar); the pinned
    contract rate (default 20k rows/s) deliberately sits at ~half the
    measured ceiling, the same way the rate contract pins 5k.  At
    production scale the same pipeline swaps the socket for Kafka,
    whose partitioned executor-side consumers remove exactly this
    bottleneck; nothing downstream of the parse changes.

    Event time advances 1 s per ``rows_per_second`` rows from a fixed
    epoch, so the 1 s windows close at wall-clock pace and the 2 s
    watermark evicts them — live state stays bounded by ~4
    window-starts × 3 event types regardless of run length."""
    import socket as pysocket
    import threading
    import time

    base_us = 1_700_000_000_000_000
    etypes = ("view", "click", "purchase")
    us_per_row = max(1, 1_000_000 // rows_per_second)
    ready, done, ports = threading.Event(), threading.Event(), []

    def serve() -> None:
        srv = pysocket.socket(pysocket.AF_INET, pysocket.SOCK_STREAM)
        srv.setsockopt(pysocket.SOL_SOCKET, pysocket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        ports.append(srv.getsockname()[1])
        srv.listen(1)
        ready.set()
        srv.settimeout(30)
        try:
            conn, _ = srv.accept()
        except OSError:
            srv.close()
            return
        # 10 paced chunks per second: sleep-until-deadline keeps the
        # LONG-RUN rate pinned even if one sendall blocks briefly.
        chunk = max(1, rows_per_second // 10)
        i = 0
        t_next = time.perf_counter()
        try:
            while not done.is_set():
                buf = []
                for _ in range(chunk):
                    ts_us = base_us + i * us_per_row
                    buf.append(
                        f"{i},{ts_us},{i % 997},{etypes[i % 3]},{(i % 1000) / 10.0}"
                    )
                    i += 1
                conn.sendall(("\n".join(buf) + "\n").encode())
                t_next += 0.1
                delay = t_next - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
        except OSError:
            pass  # reader stopped first — normal shutdown order
        finally:
            conn.close()
            srv.close()

    feeder = threading.Thread(target=serve, daemon=True)
    feeder.start()
    if not ready.wait(timeout=10) or not ports:
        return []  # feeder failed to bind; caller treats [] as skip

    try:
        return _drain_windowed(
            socket_stream(spark, "127.0.0.1", ports[0]), window, watermark, "socket_drain",
            trigger_ms, min_batches, timeout_s, done.set,
        )
    finally:
        feeder.join(timeout=10)
