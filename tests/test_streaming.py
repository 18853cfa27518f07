"""Structured Streaming runtime tests (SURVEY.md §2 B39–B45): the
shared logical plans executed as real incremental streams via memory
sink + processAllAvailable, cross-checked against their batch form."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.streaming import runtime
from stellarsql_spark.streaming.windows import tumbling_hourly


def _as_sorted_tuples(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    """One logical plan, two engines: incremental micro-batch result
    must equal the batch result exactly."""
    stream_out = runtime.run_to_memory(
        runtime.tumbling_with_watermark(spark, sf_dir), output_mode="complete"
    )
    batch_out = tumbling_hourly(load_table(spark, sf_dir, "events"))
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _as_sorted_tuples(stream_out, cols) == _as_sorted_tuples(batch_out, cols)


def test_streaming_watermark_metadata(spark, sf_dir):
    """B42: the watermark is attached to the streaming plan (late-data
    drop policy is engine-enforced from this node)."""
    df = runtime.tumbling_with_watermark(spark, sf_dir, watermark="1 hour")
    assert df.isStreaming
    out = runtime.run_to_memory(df, output_mode="append")
    # append mode only emits windows the watermark has closed
    assert out.count() > 0


def test_streaming_stateful_dedup(spark, sf_dir):
    """B43: dropDuplicatesWithinWatermark keeps one row per key."""
    out = runtime.run_to_memory(runtime.stateful_dedup(spark, sf_dir), "append")
    dupes = out.groupBy("user_id", "event_type").count().where(F.col("count") > 1).count()
    assert dupes == 0
    assert out.count() > 0


def test_stream_static_join(spark, sf_dir):
    """B44: stream ⋈ static dimension, aggregated per segment."""
    out = runtime.run_to_memory(runtime.stream_static_join(spark, sf_dir), "complete")
    rows = {r["c_mktsegment"]: r["n_events"] for r in out.collect()}
    assert len(rows) >= 1 and all(v > 0 for v in rows.values())


def test_arbitrary_stateful_running_count(spark, sf_dir):
    """B45: applyInPandasWithState per-user counter; final counts must
    equal the batch group-by counts."""
    out = runtime.run_to_memory(runtime.stateful_running_count(spark, sf_dir), "update")
    # update mode may emit several versions per key; last one wins
    final = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        load_table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n_events"))
    )
    a = {r["user_id"]: r["n_events"] for r in final.collect()}
    b = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert a == b


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The stream-stream join must produce exactly the rows the same
    join yields in batch mode over the full log."""
    from stellarsql_spark.catalog import load_table
    from stellarsql_spark.streaming.runtime import run_to_memory, stream_stream_join

    got = {
        (r["c_user"], r["click_id"], r["purchase_id"])
        for r in run_to_memory(stream_stream_join(spark, sf_dir), "append").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["c_user"], r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_checkpoint_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a checkpointed sink over an unchanged source must not
    duplicate rows — the file-commit log + source offsets make the
    drain idempotent."""
    from stellarsql_spark.streaming.runtime import checkpointed_file_sink

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    n_src = load_table(spark, sf_dir, "events").count()
    first = checkpointed_file_sink(spark, sf_dir, out, ckpt)
    second = checkpointed_file_sink(spark, sf_dir, out, ckpt)
    assert first == n_src
    assert second == n_src


_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def test_engine_checkpoints_use_filesystem_manager(spark, tmp_path):
    """A file: checkpoint in an engine session resolves to Spark's
    FileSystem-based manager, whose writes still go through Hadoop's
    checksummed local filesystem (a ``.crc`` sidecar per file), and
    Spark's own checkpoint checksums stay on."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri())
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        root, hconf
    )
    assert mgr.getClass().getName() == _FS_MANAGER
    out = mgr.createAtomic(jvm.org.apache.hadoop.fs.Path(root, "probe"), False)
    out.write(bytearray(b"probe"))
    out.close()
    assert (tmp_path / "probe").read_bytes() == b"probe"
    assert (tmp_path / ".probe.crc").is_file()
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"


def _write_event_files(sf_dir, src):
    """Split the corpus's events, sorted by ``ts``, into three parquet
    files; returns the sorted events."""
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from stellarsql_spark.catalog import table_path

    events = pq.read_table(table_path(sf_dir, "events"))
    events = events.take(pc.sort_indices(events, [("ts", "ascending")]))
    src.mkdir()
    third = -(-events.num_rows // 3)
    mtime = time.time() - 60
    for i in range(3):
        f = src / f"part-{i}.parquet"
        pq.write_table(events.slice(i * third, third), f)
        os.utime(f, (mtime + i, mtime + i))  # source order is mtime order
    return events


def _drain_watermarked_sink(spark, events, src, sink, ckpt):
    """One file per micro-batch through the watermarked hourly window
    into a checkpointed parquet sink; asserts the sink equals DuckDB's
    aggregate over the closed windows and returns the progress rows."""
    import time
    from datetime import datetime

    import duckdb
    import pyarrow.compute as pc

    stream = runtime.events_stream_from_dir(spark, str(src), max_files_per_trigger=1)
    q = (
        tumbling_hourly(stream.withWatermark("ts", "2 hours"))
        .writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .start()
    )
    max_ts = pc.max(events["ts"]).cast("int64").as_py()  # epoch µs
    final_wm_ms = max_ts // 1000 - 2 * 3600 * 1000
    try:
        q.processAllAvailable()
        # the no-data batch that follows the last file closes the last windows
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            wm = ((q.lastProgress or {}).get("eventTime") or {}).get("watermark")
            if wm and datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() * 1000 >= final_wm_ms:
                break
            time.sleep(0.1)
        progress = q.recentProgress
    finally:
        q.stop()

    con = duckdb.connect()
    expected = con.execute(f"""
        SELECT epoch_us(date_trunc('hour', ts)) AS w, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM read_parquet('{src}/*.parquet')
        GROUP BY 1, 2
        HAVING epoch_us(date_trunc('hour', ts)) + 3600000000 <= {final_wm_ms * 1000}
        ORDER BY 1, 2""").fetchall()
    got = con.execute(f"""
        SELECT epoch_us(window_start), event_type, n_events, total_value
        FROM read_parquet('{sink}/*.parquet') ORDER BY 1, 2""").fetchall()
    con.close()
    assert len(expected) > 0
    assert got == expected
    return progress


def test_watermarked_parquet_sink_checkpoint(spark, sf_dir, tmp_path):
    """Three event files, one per micro-batch, through the watermarked
    hourly window into a checkpointed parquet sink: the sink equals
    DuckDB's aggregate over the closed windows, and the checkpoint
    holds every log and integrity file Spark writes on this path."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    events = _write_event_files(sf_dir, src)
    _drain_watermarked_sink(spark, events, src, sink, ckpt)

    def tree(d):
        return {p.relative_to(d).as_posix() for p in d.rglob("*") if p.is_file()}

    files = tree(ckpt)
    for log in ("offsets", "commits"):
        assert {f"{log}/{i}" for i in range(3)} <= files
        assert {f"{log}/.{i}.crc" for i in range(3)} <= files  # Hadoop's checksum sidecars
    deltas = {n for n in files if n.startswith("state/") and n.endswith(".delta")}
    assert deltas
    for n in deltas:
        d, f = n.rsplit("/", 1)
        assert n + ".crc" in files  # Spark's checkpoint checksum
        assert f"{d}/.{f}.crc" in files  # Hadoop's sidecar of N.delta
    assert "_spark_metadata/0" in tree(sink)


def test_small_input_stream_runs_one_state_partition(spark, sf_dir, tmp_path):
    """``tune_for_data_size`` gives a sub-8 MiB input directory one
    shuffle partition, and a stream whose checkpoint is created under
    it runs one state partition per micro-batch, with the same sink."""
    from stellarsql_spark.session import tune_for_data_size

    src = tmp_path / "src"
    events = _write_event_files(sf_dir, src)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        tune_for_data_size(spark, str(src))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        progress = _drain_watermarked_sink(spark, events, src, tmp_path / "sink", tmp_path / "ckpt")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    states = [p["stateOperators"][0] for p in progress if p["numInputRows"] > 0]
    assert len(states) == 3
    assert all(s["numShufflePartitions"] == 1 for s in states), states


def _batch_event_counts(spark, sf_dir):
    return {
        (r["event_type"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def _read_rollup(spark, out):
    return {
        (r["event_type"], r["n_events"])
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("n_events"))
        .collect()
    }


def test_foreach_batch_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch rollup over one drain equals the batch-mode
    aggregate of the whole source."""
    from stellarsql_spark.streaming.runtime import foreach_batch_agg

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    foreach_batch_agg(spark, sf_dir, out, ckpt)
    assert _read_rollup(spark, out) == _batch_event_counts(spark, sf_dir)


def test_foreach_batch_rollup_is_cumulative_across_batches(spark, sf_dir, tmp_path):
    """A multi-file source split into one-file micro-batches must still
    produce the full rollup: each batch writes its own batch_id
    partition and the reader re-aggregates — the result cannot degrade
    to last-batch-only."""
    from stellarsql_spark.streaming.parity import _three_file_stream_dir
    from stellarsql_spark.streaming.runtime import EVENTS_DDL, foreach_batch_agg

    d = _three_file_stream_dir(spark, sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d + "/*.parquet")
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    foreach_batch_agg(spark, sf_dir, out, ckpt, stream=stream)
    n_batches = spark.read.parquet(out).select("batch_id").distinct().count()
    assert n_batches == 3
    assert _read_rollup(spark, out) == _batch_event_counts(spark, sf_dir)


def test_run_to_memory_restores_shuffle_partitions(spark, sf_dir):
    """Draining a stream must not leak its state-store-sized
    shuffle.partitions into later batch plans."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        runtime.run_to_memory(
            runtime.tumbling_with_watermark(spark, sf_dir), output_mode="complete"
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_transform_with_state_matches_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: final per-user counts after
    draining the stream must equal the batch groupBy count.

    Skipped only where no usable google.protobuf can be provisioned
    (the TWS worker protocol needs it); streaming/pbshim provisions
    one from the host google-cloud-sdk in this container, so the real
    typed-state path runs here."""
    import pytest

    from stellarsql_spark.streaming.runtime import protobuf_available

    if not protobuf_available():
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from stellarsql_spark.streaming.runtime import run_to_memory, tws_running_count

    sink = run_to_memory(tws_running_count(spark, sf_dir), "update")
    # update mode may emit one row per micro-batch per user; the final
    # (max) count per user is the converged value
    got = {
        r["user_id"]: r["mx"]
        for r in sink.groupBy("user_id").agg(F.max("n_events").alias("mx")).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
