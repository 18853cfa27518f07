"""The three workloads. Each takes a ``Bench``, runs set-up, an untimed
warm-up pass and the timed loop, stops the session, checks every
output against DuckDB, and returns the run's result object.

- ``interactive``: one closed-loop client over the sf0.1 corpus (direct
  parquet scans, nothing cached). Each submission is a fresh registry
  builder call or ``spark.sql`` of a TPC-H-shaped template with seeded
  literals, followed by ``collect()``.
- ``batch_x30``: the 30x corpus from ``scale.ensure_scaled_corpus``;
  each job writes its full result to parquet.
- ``stream_ingest``: seeded event files replayed one file per trigger
  through ``streaming.windows.tumbling_hourly`` with a watermark into
  an append-mode parquet sink with a checkpoint.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import zlib
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow.parquet as pq

from . import datagen, oracle, tracing
from .harness import Bench

INTERACTIVE_KEYS = (
    "b_agg_groupby", "b_join_inner", "b_topk_per_group", "b_stream_tumbling",
    "b_llm_cosine_topk", "b_llm_dedup_exact", "b_win_running_sum", "b_join_asof",
    "b_tpch_q3", "b_ev_funnel",
    "b_tpch_q5", "b_tpch_q18", "b_win_rank", "b_llm_textstats", "b_llm_embed_gemm", "b_udf_pandas",
)
BATCH_JOBS = (
    "b_agg_groupby", "b_join_inner", "b_topk_per_group",
    "b_stream_tumbling", "b_llm_dedup_exact", "b_llm_cosine_topk",
)
# Trimmed from the job list to fit the benchmark's time budget: at 30x
# they take 4.5-8.5 s each, together as long as the six jobs above.
BATCH_TRIMMED = ("b_tpch_q3", "b_tpch_q5")
SCALE_FACTOR = 30
PASS_SECONDS = 10

STREAM_FILES_PER_PASS = 20
STREAM_ROWS_PER_FILE = 10_000
STREAM_WARMUP_FILES = 10
STREAM_WATERMARK = "2 hours"
STREAM_WATERMARK_US = 2 * 3_600_000_000


# --- shared pieces ---------------------------------------------------

def input_rows(df, footer_rows: dict[str, int]) -> int:
    """Rows in the files a DataFrame reads, from parquet footers."""
    total = 0
    for uri in df.inputFiles():
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        if path not in footer_rows:
            footer_rows[path] = pq.ParquetFile(path).metadata.num_rows
        total += footer_rows[path]
    return total


def run_passes(b: Bench, names: tuple[str, ...], run_one) -> None:
    """Closed loop over a fixed amount of work: ``passes(b.seconds)``
    whole passes, each a seeded permutation of ``names``. The op count
    depends only on ``--seconds``, so sample counts (and with them the
    tail percentile) never change between the runs being compared."""
    rng = np.random.default_rng([b.seed, 2])
    for pass_no in range(1, passes(b.seconds) + 1):
        for i in rng.permutation(len(names)):
            run_one(names[i], pass_no, rng)


def passes(seconds: int) -> int:
    """One pass of the interactive mix or of the batch job list takes
    10-20 s on a 4-core host; a run makes one pass per 10 s asked for."""
    return max(1, seconds // PASS_SECONDS)


def warm_up(spark, workload: str, names: tuple[str, ...], fn, threads: int) -> dict:
    """Run ``fn(name)`` once per name, ``threads`` at a time (the
    warm-up pays one-off costs: class loading, code generation, JIT,
    Python worker start; running them side by side shortens set-up).
    Returns ``{name: fn(name)}``; any exception propagates."""
    from concurrent.futures import ThreadPoolExecutor

    def one(name: str):
        spark.sparkContext.setJobGroup(f"{workload}/warmup/{name}", name)
        return fn(name)

    with ThreadPoolExecutor(max_workers=threads) as pool:
        return dict(zip(names, pool.map(one, names)))


def finish(b: Bench, wall_s: float | None = None) -> dict:
    """End-to-end metrics over every timed op; per-layer metrics over
    the first pass, with the event log joined in on traced runs."""
    if wall_s is None:
        wall_s = b.timed_end - b.timed_start
    e2e = b.end_to_end([o.ms for o in b.ops], sum(o.rows_in for o in b.ops), wall_s)
    if b.trace:
        by_group = tracing.metrics_by_group(tracing.read_event_log(os.path.join(b.run_dir, "eventlog")))
        b.fill_layers([o for o in b.ops if o.pass_no == 1], by_group)
    return b.result(e2e)


# --- interactive -----------------------------------------------------

def sql_templates(rng: np.random.Generator) -> dict[str, str]:
    """TPC-H Q1/Q3/Q6/Q10-shaped SQL with literals drawn from ``rng``.
    Money uses the registry's DECIMAL convention (exact decimal sums,
    cast to DOUBLE at the end), so Spark and DuckDB agree exactly."""
    from stellarsql_spark.functions.exact import SQL_CHARGE, SQL_DISC_PRICE

    def ts(d: date) -> str:
        return f"TIMESTAMP '{d.isoformat()} 00:00:00'"

    q1_cut = date(1998, 12, 1) - timedelta(days=int(rng.integers(60, 121)))
    q3_day = date(1995 + int(rng.integers(0, 6)), 3, 1) + timedelta(days=int(rng.integers(0, 31)))
    q3_seg = datagen.SEGMENTS[int(rng.integers(0, len(datagen.SEGMENTS)))]
    q6_year = 1995 + int(rng.integers(0, 6))
    q6_disc = int(rng.integers(2, 10))
    q6_qty = int(rng.integers(24, 26))
    q10_year, q10_month = 1995 + int(rng.integers(0, 6)), 1 + 3 * int(rng.integers(0, 4))
    q10_lo = date(q10_year, q10_month, 1)
    q10_hi = date(q10_year + (q10_month == 10), 1 if q10_month == 10 else q10_month + 3, 1)
    return {
        "sql_q1": f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({SQL_CHARGE}) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= {ts(q1_cut)}
GROUP BY l_returnflag, l_linestatus""",
        "sql_q3": f"""
SELECT l_orderkey, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue, o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{q3_seg}' AND o_orderdate < {ts(q3_day)} AND l_shipdate > {ts(q3_day)}
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10""",
        "sql_q6": f"""
SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= {ts(date(q6_year, 1, 1))} AND l_shipdate < {ts(date(q6_year + 1, 1, 1))}
  AND CAST(ROUND(l_discount * 100) AS INT) BETWEEN {q6_disc - 1} AND {q6_disc + 1}
  AND l_quantity < {q6_qty}""",
        "sql_q10": f"""
SELECT c_custkey, c_name, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue, c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= {ts(q10_lo)} AND o_orderdate < {ts(q10_hi)} AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20""",
    }


def interactive(b: Bench, sf_dir: str | None = None) -> dict:
    from stellarsql_spark.catalog import TABLES, register_views
    from stellarsql_spark.registry import all_specs
    from stellarsql_spark.session import tune_for_data_size

    spark = b.start_session("perfbench-interactive")
    with b.tracer.span("inputs"):
        sf_dir = sf_dir or b.corpus()
    with b.tracer.span("session"):
        tune_for_data_size(spark, sf_dir, cpus=b.cores)
    with b.tracer.span("catalog"):
        register_views(spark, sf_dir)
    specs = all_specs()
    names = INTERACTIVE_KEYS + tuple(sql_templates(np.random.default_rng(0)))
    footer_rows: dict[str, int] = {}
    outputs: dict[str, tuple[list, list[str]]] = {}
    oracle_sql: dict[str, str] = {}

    def build(name: str, rng) -> tuple[str, object]:
        if name in specs:
            with b.tracer.span("build"):
                return name, specs[name].builder(spark, sf_dir)
        sql = sql_templates(rng)[name]
        with b.tracer.span("sql.parse"):
            df = spark.sql(sql)
        key = f"{name}#{zlib.crc32(sql.encode()):08x}"
        oracle_sql[key] = sql
        return key, df

    warm_sql = sql_templates(np.random.default_rng([b.seed, 1]))

    def warm(name: str) -> int:
        df = specs[name].builder(spark, sf_dir) if name in specs else spark.sql(warm_sql[name])
        df.collect()
        return input_rows(df, footer_rows)

    with b.tracer.span("warmup"):
        rows_in = warm_up(spark, "interactive", names, warm, b.cores)
    b.setup_done()

    def run_one(name: str, pass_no: int, rng) -> None:
        op = b.new_op(name, pass_no)
        df = None
        with b.op(op):
            op.check_key, df = build(name, rng)
            if b.trace:
                b.force_plan(op, df)
            with b.tracer.span("execute"):
                rows = df.collect()
            op.rows_out = len(rows)
            op.rows_in = rows_in[name]
        if op.error is None:
            outputs[op.check_key] = (rows, df.columns)

    run_passes(b, names, run_one)
    b.record_peak_rss()
    b.stop_session()

    with b.verifying():
        con = oracle.connect(sf_dir, TABLES, b.cores)
        for key, (rows, columns) in outputs.items():
            sql = oracle_sql.get(key) or specs[key].oracle
            b.check(key, oracle.rows_to_pandas(rows, columns), con.execute(sql).df())
        con.close()
    return finish(b)


# --- batch_x30 -------------------------------------------------------

def batch_x30(b: Bench, base_dir: str | None = None, factor: int = SCALE_FACTOR) -> dict:
    from stellarsql_spark.catalog import TABLES, load_tables
    from stellarsql_spark.registry import all_specs
    from stellarsql_spark.scale import ensure_scaled_corpus
    from stellarsql_spark.session import tune_for_data_size

    spark = b.start_session("perfbench-batch")
    with b.tracer.span("inputs"):
        base_dir = base_dir or b.corpus()
    with b.tracer.span("scale"):
        scaled = ensure_scaled_corpus(spark, base_dir, factor, out_root=os.path.join(b.work, "scale"))
    specs = all_specs()
    out_root = os.path.join(b.run_dir, "out")
    with b.tracer.span("session"):
        tune_for_data_size(spark, scaled, cpus=b.cores)
    with b.tracer.span("catalog"):
        load_tables(spark, scaled)
    footer_rows: dict[str, int] = {}

    # Warm-up: one pass over the 30x corpus itself, the jobs side by
    # side (one-off costs such as class loading and code generation are
    # mostly single-threaded, and the jobs then share the task slots).
    # A warm-up over a smaller corpus left the first 30x pass 45 %
    # slower than the ones after it, and a cold page cache adds more.
    def warm(job: str) -> int:
        df = specs[job].builder(spark, scaled)
        df.write.mode("overwrite").parquet(os.path.join(b.run_dir, "warmup", job))
        return input_rows(df, footer_rows)

    with b.tracer.span("warmup"):
        rows_in = warm_up(spark, "batch_x30", BATCH_JOBS, warm, b.cores)
        # Start the timed loop from a settled state: drop the warm-up's
        # outputs before the kernel writes them back, and collect the
        # garbage (and with it the shuffle files) the warm-up left.
        shutil.rmtree(os.path.join(b.run_dir, "warmup"))
        spark.sparkContext._jvm.java.lang.System.gc()
    b.notes["corpus"] = {"factor": factor, "bytes": _dir_bytes(scaled), "jobs": list(BATCH_JOBS), "trimmed": list(BATCH_TRIMMED)}
    b.setup_done()

    def run_one(job: str, pass_no: int, rng) -> None:
        op = b.new_op(job, pass_no)
        with b.op(op):
            with b.tracer.span("build"):
                df = specs[job].builder(spark, scaled)
            if b.trace:
                b.force_plan(op, df)
            with b.tracer.span("execute"):
                df.write.mode("overwrite").parquet(os.path.join(out_root, job))
            op.rows_in = rows_in[job]

    run_passes(b, BATCH_JOBS, run_one)
    b.record_peak_rss()
    b.stop_session()

    with b.verifying():
        con = oracle.connect(scaled, TABLES, b.cores)
        for job in BATCH_JOBS:
            if any(o.name == job and o.error is None for o in b.ops):
                got = pq.read_table(os.path.join(out_root, job)).to_pandas()
                b.check(job, got, con.execute(specs[job].oracle).df())
        con.close()
    return finish(b)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


# --- stream_ingest ---------------------------------------------------

def _start_stream(spark, in_dir: str, out_dir: str, ckpt: str):
    from stellarsql_spark.streaming.runtime import events_stream_from_dir
    from stellarsql_spark.streaming.windows import tumbling_hourly

    events = events_stream_from_dir(spark, in_dir, max_files_per_trigger=1)
    agg = tumbling_hourly(events.withWatermark("ts", STREAM_WATERMARK))
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def _drain(q, final_watermark_ms: int, timeout_s: float = 30.0) -> list[dict]:
    """Process every file, then wait for the no-data batch that
    advances the watermark to its final value (it closes the last
    windows), and stop. Returns the progress records."""
    q.processAllAvailable()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        last = q.lastProgress
        wm = (last or {}).get("eventTime", {}).get("watermark")
        if wm and _iso_ms(wm) >= final_watermark_ms and last["numInputRows"] == 0:
            break
        time.sleep(0.05)
    q.stop()
    return [json.loads(p.json) for p in q.recentProgress]


def _iso_ms(s: str) -> int:
    return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000)


def _final_watermark_ms(in_dir: str) -> int:
    max_us = max(pq.read_table(p, columns=["ts"])["ts"].cast("int64").to_numpy().max()
                 for p in glob.glob(os.path.join(in_dir, "*.parquet")))
    return int(max_us // 1000 - STREAM_WATERMARK_US // 1000)


def stream_ingest(b: Bench, timed_files: int | None = None, rows_per_file: int = STREAM_ROWS_PER_FILE) -> dict:
    """One streaming query over ``STREAM_WARMUP_FILES + timed_files``
    files, one file per micro-batch. The first ``STREAM_WARMUP_FILES``
    batches are the warm-up (untimed, inside set-up); the rest are the
    timed ops, each one micro-batch's ``triggerExecution``."""
    from stellarsql_spark.session import tune_for_data_size

    timed_files = timed_files or STREAM_FILES_PER_PASS * passes(b.seconds)
    spark = b.start_session("perfbench-stream")
    in_dir = os.path.join(b.run_dir, "in")
    with b.tracer.span("inputs"):
        datagen.write_stream_files(in_dir, b.seed, STREAM_WARMUP_FILES + timed_files, rows_per_file)
        final_wm = _final_watermark_ms(in_dir)
    with b.tracer.span("session"):
        tune_for_data_size(spark, in_dir, cpus=b.cores)
    out_dir = os.path.join(b.run_dir, "sink")
    with b.tracer.span("stream"):
        q = _start_stream(spark, in_dir, out_dir, os.path.join(b.run_dir, "ckpt"))
        qid = q.id
        progress = _drain(q, final_wm)
    b.record_peak_rss()
    b.stop_session()

    batches = [p for p in progress if p["numInputRows"] > 0]
    warm, tb = batches[:STREAM_WARMUP_FILES], batches[STREAM_WARMUP_FILES:]
    for p in tb:
        op = b.new_op("micro-batch", 1, check_key="sink")
        op.group = f"stream/{qid}/{p['batchId']}"
        op.start = _iso_ms(p["timestamp"]) / 1000.0
        op.end = op.start + p["durationMs"]["triggerExecution"] / 1000.0
        op.rows_in = p["numInputRows"]
        b.ops.append(op)
    # Set-up ends where the first timed micro-batch starts (epoch clock).
    b.notes["setup_s"] = b.ops[0].start - b.t0_epoch
    if warm:
        b.layers["warmup_s"] = (_iso_ms(tb[0]["timestamp"]) - _iso_ms(warm[0]["timestamp"])) / 1000.0
    dur = lambda k: float(sum(p["durationMs"].get(k, 0) for p in tb))  # noqa: E731
    states = [p["stateOperators"][0] for p in tb if p.get("stateOperators")]
    b.layers.update({
        "stream.add_batch_ms": dur("addBatch"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.state_rows": float(states[-1]["numRowsTotal"]) if states else 0.0,
        "stream.state_mem_bytes": float(max((s["memoryUsedBytes"] for s in states), default=0)),
        "stream.state_commit_ms": float(sum(s.get("commitTimeMs", 0) for s in states)),
    })
    b.notes["stream"] = {"warmup_files": STREAM_WARMUP_FILES, "timed_files": timed_files,
                         "rows_per_file": rows_per_file, "batches": len(batches)}

    with b.verifying():
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {b.cores}")
        expected = con.execute(f"""
            SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
                   COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM read_parquet('{os.path.join(in_dir, '*.parquet')}')
            GROUP BY 1, 2
            HAVING epoch_us(date_trunc('hour', ts)) + 3600000000 <= {final_wm * 1000}""").df()
        got = con.execute(f"""
            SELECT epoch_us(window_start) AS window_start_us, event_type, n_events, total_value
            FROM read_parquet('{os.path.join(out_dir, '*.parquet')}')""").df()
        b.check("sink", got, expected)
        con.close()
    return finish(b, wall_s=b.ops[-1].end - b.ops[0].start)


WORKLOADS = {"interactive": interactive, "batch_x30": batch_x30, "stream_ingest": stream_ingest}
