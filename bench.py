"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), then depth tiers on replicated corpora.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
and writes the full result to BENCH_FULL.json when the depth tiers ran.

Sizing comes from the host that runs the bench: ``local[nproc]``
(``$SPARK_GRAFT_CPUS`` overrides) and a driver heap derived from
MemAvailable (``$SPARK_GRAFT_DRIVER_MEM`` overrides), both from
``perfbench/host.py``; the host stamp is recorded in the result.

Headline protocol: one shared SparkSession (session startup is
excluded — it is fixed overhead amortized across any real workload);
corpus tables are cached once (CacheManager matches later reads by plan
equality — the "cache hot tables" practice from BASELINE.md); each
query's logical plan is prepared ONCE (prepared-statement style —
building the DataFrame costs ~50-100 py4j round trips ≈ 0.1-0.2 s of
pure Python chatter that no steady-state engine pays per execution),
then executed once untimed (JIT/codegen warmup) and three times timed,
reporting the minimum — steady-state per-query *execution* latency
including the full scan/shuffle/aggregate work, matching how the DuckDB
baseline numbers in BASELINE.md were taken (repeat executions of a
parsed query).

Depth tiers: one table (``TIERS``) run by one loop. A tier is skipped,
with the reason recorded, when its replicated corpus does not fit the
free disk under ``.scale/`` or no time is left of ``BUDGET_S``; a tier
that runs may use the remaining budget divided by the remaining tiers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections.abc import Callable
from typing import NamedTuple

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from perfbench.host import driver_heap_mb, stamp
from stellarsql_spark.catalog import TABLES, load_table, table_path
from stellarsql_spark.registry import all_specs
from stellarsql_spark.scale import (
    ensure_graph_corpus,
    ensure_scaled_corpus,
    ensure_skewed_corpus,
)
from stellarsql_spark.session import get_spark, tune_for_data_size

HEADLINE = (
    "b_agg_groupby",      # TPC-H Q1 pricing summary (BASELINE row 1)
    "b_join_inner",       # 4-table join + agg (BASELINE row 2)
    "b_topk_per_group",   # window top-3 per customer (BASELINE row 3)
    "b_stream_tumbling",  # hourly event agg, batch form (BASELINE row 4)
    "b_llm_cosine_topk",  # cosine top-10 (BASELINE row 5)
    "b_llm_dedup_exact",  # exact dedup over documents
    "b_win_running_sum",  # running-frame window
    "b_join_asof",        # as-of join (union-timeline construction)
    "b_tpch_q3",          # shipping-priority join tree + top-10
    "b_ev_funnel",        # event-log funnel rollup
)

# Wall-clock budget for the whole run, headline included.
BUDGET_S = 2700

# Every depth tier's trials stop starting once its share of the budget
# is spent; the clock starts at import, so the headline counts too.
_T0 = time.perf_counter()


def _elapsed() -> float:
    return time.perf_counter() - _T0


class Corpus(NamedTuple):
    suffix: str                         # dir under .scale/: <sf tag><suffix>
    replicated: tuple[str, ...] | None  # tables copied factor× (None = all)
    build: Callable                     # (spark, sf_dir, factor) -> corpus dir


class Tier(NamedTuple):
    key: str                # result key in BENCH_FULL.json
    tag: str                # key in the compact stdout line
    factor: int
    keys: tuple[str, ...]
    runs: int               # min-of-N per key
    corpus: Corpus
    # (spark, corpus dir, factor) -> block; None times `keys` vs DuckDB
    action: Callable | None = None


_FULL = Corpus("_x{}", None, ensure_scaled_corpus)
# The 1000× tier replicates only the tables its keys read (~14 GiB
# instead of ~60 GiB); the others are copied at base size.
_DEEP_TABLES = ("lineitem", "orders", "customer", "events", "embeddings", "documents")
_PART = Corpus(
    f"_x{{}}p{len(_DEEP_TABLES)}", _DEEP_TABLES,
    lambda spark, sf_dir, f: ensure_scaled_corpus(spark, sf_dir, f, tables=_DEEP_TABLES),
)
# Zipfian lineitem join key: hot orderkey #1 carries ~18% of lineitem,
# so the shuffle-join straggler is real.
_SKEW = Corpus("_x{}z", ("orders", "lineitem"), ensure_skewed_corpus)
# Time-shifted events replicas: the co-occurrence graph grows as factor
# disjoint copies (linear edges) instead of quadratically denser minutes.
_GRAPH = Corpus("_x{}g", ("events",), ensure_graph_corpus)

# The deep tiers' shared set: each plain shape beside its bucketed and
# served twins, so one block separates the exchange, layout and kernel
# terms at depth.
_DEEP_KEYS = (
    "b_agg_groupby", "b_agg_groupby_served",
    "b_join_inner", "b_join_inner_bucketed", "b_join_inner_served",
    "b_stream_tumbling", "b_stream_tumbling_bucketed", "b_stream_tumbling_served",
    "b_llm_cosine_topk",
    "b_topk_per_group", "b_topk_per_group_bucketed", "b_topk_per_group_served",
    "b_llm_dedup_exact",
)

# Keys whose result set is corpus-sized (top-3 per CUSTOMER is
# |customers|×3 rows — 13.5M at 300×): time the duck side as
# COUNT(*) over the full subquery, so the comparison is
# "fully execute, return a scalar" on BOTH engines (the Spark side's
# timed action is already .count()). Without the wrap, fetchall()
# times Python tuple construction of millions of rows, not the query.
_COUNT_WRAPPED = {
    "b_topk_per_group",
    "b_topk_per_group_bucketed",
    "b_topk_per_group_served",
}


def _oracle_sql_for_timing(spec) -> str | None:
    if spec.oracle is None:
        return None
    if spec.name in _COUNT_WRAPPED:
        return f"SELECT COUNT(*) AS n FROM ({spec.oracle})"
    return spec.oracle


# Sub-second Spark reads get 2 extra trials: they are floor-band
# measurements where a single descheduling blip is the same order as
# the signal, and two more mins cost ~nothing there.
_SUBSEC_EXTRA = 2


def _interleaved_times(spark, scaled_dir, specs, names, runs: int,
                       share_end: float | None):
    """min-of-N for BOTH engines with PER-QUERY engine-paired trials:
    for each query in turn, warm both engines, then alternate
    [spark, duckdb] back-to-back for all its trials before moving to
    the next query.  Per-query pairing keeps
    - cache coherence: nothing evicts a query's pages between its own
      trials (the untimed warm call reads the key's files just before);
    - drift cancellation at the tightest spacing: the Spark trial and
      the DuckDB trial it is ratioed against run seconds apart, so a
      host contention wave inflates BOTH engines' trials for that
      query and min-vs-min still cancels it.
    Sub-second Spark shapes extend to min-of-(runs+2) — see
    _SUBSEC_EXTRA.

    ``share_end`` is the elapsed time at which the tier's budget share
    runs out: past it no new trial starts, but every remaining query
    still gets its warm run plus one paired (spark, duckdb) trial, so
    every key reports a min (of fewer trials, recorded in the returned
    shed list) and the tiers behind keep their share."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = table_path(scaled_dir, t)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    s_best = {n: float("inf") for n in names}
    s_worst = {n: 0.0 for n in names}
    d_best: dict[str, float] = {}
    shed: list[str] = []

    def spent() -> bool:
        return share_end is not None and _elapsed() > share_end

    for n in names:
        sfn = prepare(specs[n], spark, scaled_dir)
        dsql = _oracle_sql_for_timing(specs[n])
        sfn()  # warm: plan + codegen + page cache
        if dsql is not None:
            d_best[n] = float("inf")
            con.execute(dsql).fetchall()
        i, trials = 0, runs
        while i < trials:
            t0 = time.perf_counter()
            sfn()
            dt = time.perf_counter() - t0
            s_best[n] = min(s_best[n], dt)
            s_worst[n] = max(s_worst[n], dt)
            # Extend whenever the running min is sub-second (not just
            # trial 0): a contention blip on the first trial must not
            # deny a genuinely sub-second shape its extra trials.
            if trials == runs and s_best[n] < 1.0 and not spent():
                trials = runs + _SUBSEC_EXTRA
            if dsql is not None:
                t0 = time.perf_counter()
                con.execute(dsql).fetchall()
                d_best[n] = min(d_best[n], time.perf_counter() - t0)
            i += 1
            # Checked AFTER a completed pair: min-of-≥1 per query.
            if i < trials and spent():
                shed.append(n)
                break
    con.close()
    return (
        {n: round(v, 4) for n, v in s_best.items()},
        {n: round(v, 4) for n, v in d_best.items()},
        # per-query max-min across the timed trials: tells a single-run
        # reader whether a sub-half-second number is floor-noise or signal
        {n: round(s_worst[n] - s_best[n], 4) for n in names},
        shed,
    )


def prepare(spec, spark, sf_dir: str):
    """Build the query's logical plan once; timed runs re-execute it.
    (`count()` fully re-materializes every run — only the analyzed
    plan is reused, exactly like a prepared statement.)

    EAGER keys (tag "eager", e.g. b_quality_observe's
    action-then-harvest Observation pass) execute their full scan at
    BUILD time and return a harvested literal — for those the timed
    unit is the builder call itself, or the harness would be timing a
    one-row literal and calling it a scan."""
    if "eager" in spec.tags:
        return lambda: spec.builder(spark, sf_dir).count()
    df = spec.builder(spark, sf_dir)
    return lambda: df.count()


def _best_of(fn, runs: int = 3) -> float:
    fn()  # warmup: plan + codegen
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _stream_probe(spark, scaled_dir: str, factor: int) -> dict:
    """Micro-batch throughput of the watermarked tumbling aggregate
    over the ``factor``× events corpus: file source, maxFilesPerTrigger
    =1 (each of the ~6 corpus files is one micro-batch incrementally
    updating (window, type) state), memory sink, synchronous drain.
    State is bounded by hours×types, NOT by input rows — see SCALE.md
    round-8 for the sizing arithmetic.  The socket-source twins ride
    along under "socket" and "socket_sustained"."""
    from stellarsql_spark.streaming.runtime import (
        events_stream_from_dir,
        run_to_memory,
        sustained_socket_drain,
    )
    from stellarsql_spark.streaming.windows import tumbling_hourly

    events_dir = table_path(scaled_dir, "events")
    n_in = load_table(spark, scaled_dir, "events").count()  # warms page cache too

    def drain(max_files, output_mode="complete"):
        src = events_stream_from_dir(
            spark, events_dir, max_files_per_trigger=max_files
        )
        streamed = tumbling_hourly(src.withWatermark("ts", "2 hours"))
        t0 = time.perf_counter()
        out_rows = run_to_memory(streamed, output_mode=output_mode).count()
        return out_rows, time.perf_counter() - t0

    # maxFilesPerTrigger curve: the per-row work is constant across the
    # curve, so time deltas between settings ARE the per-batch fixed
    # cost (planning + state-store commit + sink commit).
    curve: dict[str, float] = {}
    for mf in (1, 2, 3, 6):
        out_rows, t = drain(mf)
        curve[str(mf)] = round(t, 3)
    t_incr = curve["1"]
    _, t_mega = drain(None)
    # Deployment shape: APPEND mode with watermark eviction — each
    # micro-batch emits only windows the watermark has closed and DROPS
    # their state, so state is bounded by open windows. Rows_out is
    # smaller by design: windows still open when the source drains
    # never emit.
    app_rows, t_app = drain(1, output_mode="append")
    sock = _socket_throughput(spark)
    # Pinned-rate push contract: worst steady batch and state bound, so
    # a regression in the single-reader path shows here too.
    rows = sustained_socket_drain(spark, rows_per_second=20_000,
                                  min_batches=8, trigger_ms=1000)
    steady = rows[2:] if len(rows) > 2 else rows
    return {
        "factor": factor,
        "rows_in": n_in,
        "rows_out": out_rows,
        "drain_sec": round(t_incr, 3),
        "rows_per_sec": int(n_in / t_incr),
        "drain_sec_megabatch": round(t_mega, 3),
        "rows_per_sec_megabatch": int(n_in / t_mega),
        "trigger_curve_sec": curve,
        "drain_sec_append": round(t_app, 3),
        "rows_per_sec_append": int(n_in / t_app),
        "rows_out_append": app_rows,
        "socket": sock,
        "socket_sustained": (
            {
                "rate_rps": 20_000,
                "batches": len(rows),
                "max_steady_batch_ms": max(
                    (r["duration_ms"] for r in steady), default=None
                ),
                "max_state_rows": max(
                    (r["state_rows"] for r in steady), default=None
                ),
            }
            if rows
            else {"skipped": "feeder failed to bind"}
        ),
    }


def _socket_throughput(spark, n_rows: int = 200_000) -> dict:
    """Push-path throughput: drain the watermarked tumbling aggregate
    from the SOCKET source — a localhost feeder thread streams
    ``n_rows`` CSV event lines over one TCP connection while Structured
    Streaming's push-based listener micro-batches them — so the network
    source's per-batch cost is on record beside the file-source figure.
    The timed unit is stream-start → all-rows-aggregated (complete-mode
    count reaches n_rows), i.e. it includes the TCP transfer, parse,
    and state updates.  At production scale the same pipeline swaps the
    socket for Kafka; nothing downstream of the parse changes."""
    import socket as pysocket
    import threading

    from pyspark.sql import functions as F

    from stellarsql_spark.streaming.runtime import socket_stream

    base_us = 1_700_000_000_000_000  # fixed epoch: hour windows stable
    etypes = ("view", "click", "purchase")

    ready, done, ports = threading.Event(), threading.Event(), []

    def serve():
        srv = pysocket.socket(pysocket.AF_INET, pysocket.SOCK_STREAM)
        srv.setsockopt(pysocket.SOL_SOCKET, pysocket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        ports.append(srv.getsockname()[1])
        srv.listen(1)
        ready.set()
        conn, _ = srv.accept()
        try:
            buf = []
            for i in range(n_rows):
                ts_us = base_us + (i % 24) * 3_600_000_000 + (i % 3_600) * 1_000_000
                buf.append(
                    f"{i},{ts_us},{i % 997},{etypes[i % 3]},{(i % 1000) / 10.0}"
                )
                if len(buf) == 10_000:
                    conn.sendall(("\n".join(buf) + "\n").encode())
                    buf = []
            if buf:
                conn.sendall(("\n".join(buf) + "\n").encode())
            # hold the connection open until the reader has drained —
            # closing early can race the final micro-batch
            done.wait(timeout=300)
        finally:
            conn.close()
            srv.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    if not ready.wait(timeout=10) or not ports:
        # feeder failed to bind (or died before listen) — this probe is
        # optional; report it skipped instead of crashing the artifact
        done.set()
        return {"skipped": "socket feeder failed to bind within 10s"}

    src = socket_stream(spark, "127.0.0.1", ports[0])
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = "bench_socket_sink"
    t0 = time.perf_counter()
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    drained = 0
    try:
        give_up = time.time() + 240
        while time.time() < give_up:
            q.processAllAvailable()
            got = spark.sql(f"SELECT COALESCE(SUM(n), 0) AS s FROM {name}").first()
            drained = int(got["s"])
            if drained >= n_rows:
                break
            # wait for more socket data; raises if the query died
            q.awaitTermination(0.2)
        dt = time.perf_counter() - t0
    finally:
        done.set()
        q.stop()
    t.join(timeout=10)
    return {
        "rows_in": n_rows,
        "rows_drained": drained,
        "drain_sec": round(dt, 3),
        "rows_per_sec": int(drained / dt) if dt > 0 else 0,
    }


# A tier whose one-exchange floor exceeds the headline session's by
# more than this is marked "contended": idle-host runs measure floor
# ratios of 0.87–1.19, and blocks above 1.5 have read 2-3× off their
# idle re-measures.
_FR_BAR = 1.5


def _plan_floors(spark) -> dict[str, float]:
    """Fixed Spark latency floors at this session's settings, measured
    on trivially small data: ``noop`` = one stage, no exchange;
    ``shuffle`` = one exchange + final agg. Any sub-second headline
    latency is dominated by these, which is why sf0.1 ratios vs an
    embedded engine do not predict cluster-scale ratios."""
    from pyspark.sql import functions as F

    noop = _best_of(lambda: spark.range(1000).count())
    shuffle = _best_of(
        lambda: spark.range(1000)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
        .count()
    )
    return {"noop": round(noop, 4), "shuffle": round(shuffle, 4)}


def _probe(spark, scaled_dir: str, tier: Tier, share_end: float, base: dict) -> dict:
    """One depth tier: its floors, then every key against DuckDB on the
    same corpus.  No df.cache() at depth: the InMemoryColumnar read path
    measured 7× slower than the vectorized parquet scan at 300×, and
    parquet from the page cache is what the DuckDB side reads too."""
    # The tier's own floors, loadavg and floor/headline-floor ratio make
    # a contended run self-evident from the artifact alone.
    block_floor = _plan_floors(spark)
    floor_ratio = round(block_floor["shuffle"] / max(base["floor"]["shuffle"], 1e-4), 2)
    scaled, duck, spread, shed = _interleaved_times(
        spark, scaled_dir, all_specs(), tier.keys, tier.runs, share_end
    )
    blk = {
        "factor": tier.factor,
        "floor": block_floor,
        "load": round(os.getloadavg()[0], 1),
        "floor_ratio": floor_ratio,
        "queries": scaled,
        "spread": spread,
        # factor means linear cost; ~1 means the sf0.1 number was fixed
        # overhead
        "time_ratio_vs_base": {
            k: round(scaled[k] / base["queries"][k], 2)
            for k in scaled
            if k in base["queries"]
        },
        "duckdb": duck,
        "ratio_vs_duckdb": {
            k: round(scaled[k] / duck[k], 2) for k in duck if duck[k] > 0
        },
    }
    if shed:
        blk["trial_shed"] = shed
    if floor_ratio > _FR_BAR:
        blk["contended"] = True
    return blk


TIERS = (
    # The five BASELINE.md queries at 30×: a corpus costing << 30× the
    # time is the fixed-overhead story, and DuckDB on the same files
    # makes the ratio measured, not extrapolated.
    Tier("scale_probe", "x30", 30, HEADLINE[:5], 3, _FULL),
    # The three whose 30× latency is still mostly fixed overhead; at
    # 100× the data term dominates on both engines.
    Tier("scale_probe_deep", "x100", 100,
         ("b_join_inner", "b_stream_tumbling", "b_llm_cosine_topk"), 5, _FULL),
    # 300×: tune_for_data_size runs the large-input configuration (AQE
    # on, bytes/128 MiB partitions).
    Tier("scale_probe_300", "x300", 300, _DEEP_KEYS, 7, _FULL),
    Tier("scale_probe_1000", "x1000", 1000,
         _DEEP_KEYS + ("b_llm_dedup_incremental", "b_llm_dedup_incremental_bucketed"),
         5, _PART),
    # Skew-handling forms of one orders⋈lineitem rollup, sharing one
    # oracle.
    Tier("scale_probe_skew", "skew", 300,
         ("b_join_skew_split", "b_join_skew_bypass"), 7, _SKEW),
    # One tokenize + (doc, word) count shuffle: the plan every
    # text-index build shares.  An "eager" key, so builder+count is timed.
    Tier("scale_probe_retrieval", "retr", 300, ("b_llm_bm25",), 7, _FULL),
    # The only micro-batch and socket evidence in the artifact, so it
    # runs before the longer mm and graph tiers.
    Tier("stream_probe", "stream", 100, (), 0, _FULL, _stream_probe),
    # Codec round trip (BMP encode → decode → aHash) against a pure-SQL
    # oracle that predicts every bit from the md5 hex.
    Tier("scale_probe_mm", "mm", 300, ("b_mm_image_ahash",), 7, _FULL),
    # The iterate-to-fixpoint loop at depth: LPA and PageRank on the
    # same minute graph isolate the algorithm term, the served PageRank
    # twin the edge-build term.  LPA rather than components, whose
    # recursive-CTE oracle measured >590 s at 100×.
    Tier("scale_probe_graph", "graph", 300,
         ("b_graph_label_prop_converged", "b_graph_pagerank_minute",
          "b_graph_pagerank_minute_served"), 5, _GRAPH),
)

# Left free beside a new corpus: shuffle files and spill share the disk.
_DISK_HEADROOM = 2 << 30


def corpus_bytes(sf_dir: str, tier: Tier, scale_root: str) -> int:
    """Disk a tier's corpus will take: 0 if it is already built (its
    marker is present), else base bytes × factor for the replicated
    tables plus base bytes for the copied ones."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    home = os.path.join(scale_root, tag + tier.corpus.suffix.format(tier.factor))
    if os.path.exists(os.path.join(home, "_SCALED_DONE")):
        return 0
    rep = tier.corpus.replicated
    return sum(
        os.path.getsize(table_path(sf_dir, t))
        * (tier.factor if rep is None or t in rep else 1)
        for t in TABLES
    )


def run_tiers(tiers, run, sf_dir: str, scale_root: str) -> dict:
    """The one budget rule: a tier starts only with budget left and
    its corpus fitting on disk, and may use (remaining budget) ÷
    (remaining tiers).  ``run(tier, share_end)`` measures one tier;
    its block records when it started, its share and its wall time
    (``clock_s``, seconds since start)."""
    out = {}
    for i, tier in enumerate(tiers):
        left = BUDGET_S - _elapsed()
        need = corpus_bytes(sf_dir, tier, scale_root)
        free = shutil.disk_usage(scale_root).free
        if left <= 0:
            out[tier.key] = {"skipped": "time budget"}
        elif need and need + _DISK_HEADROOM > free:
            out[tier.key] = {"skipped": f"disk: needs {need >> 20} MiB, {free >> 20} free"}
        else:
            start, share = _elapsed(), left / (len(tiers) - i)
            blk = out[tier.key] = run(tier, start + share)
            blk["clock_s"] = {"start": round(start), "share": round(share),
                              "wall": round(_elapsed() - start)}
    return out


# Short query aliases for the compact stdout line (legend also in
# BENCH_FULL.json). The driver stores only the LAST 2000 chars of
# stdout and parses the JSON found there, so the full result goes to
# BENCH_FULL.json while stdout carries a compact line sized to fit.
_SHORT = {
    "b_agg_groupby": "grp",
    "b_agg_groupby_served": "grpS",
    "b_join_inner": "join",
    "b_join_inner_bucketed": "joinB",
    "b_join_inner_served": "joinS",
    "b_stream_tumbling": "tum",
    "b_stream_tumbling_bucketed": "tumB",
    "b_stream_tumbling_served": "tumS",
    "b_llm_cosine_topk": "cos",
    "b_llm_bm25": "bm25",
    "b_join_skew_split": "skSplit",
    "b_join_skew_bypass": "skByp",
    "b_topk_per_group": "topk",
    "b_topk_per_group_bucketed": "topkB",
    "b_topk_per_group_served": "topkS",
    "b_llm_dedup_exact": "dedup",
    "b_llm_dedup_incremental": "dinc",
    "b_llm_dedup_incremental_bucketed": "dincB",
    "b_graph_label_prop_converged": "lpa",
    "b_graph_pagerank_minute": "prm",
    "b_graph_pagerank_minute_served": "prmS",
    "b_mm_image_ahash": "ahash",
}


def _compact(result: dict) -> str:
    """Compress the full result into one JSON line ≤ 1900 chars:
    headline block verbatim (the driver's contract fields), the host
    size, per-tier Spark times + DuckDB ratios + one-exchange floor
    under short query aliases, spreads for the deep tiers, stream
    summary. Degrades by dropping detail if ever over budget."""

    def short(m: dict) -> dict:
        return {_SHORT.get(k, k): v for k, v in m.items()}

    out = {
        k: result[k]
        for k in ("metric", "value", "unit", "queries", "sf", "floor",
                  "full_write_failed")
        if k in result
    }
    if "host" in result:
        out["host"] = {k: result["host"][k]
                       for k in ("nproc", "mem_available_mb", "free_disk_mb")}
    scale: dict[str, dict] = {}
    for tier in TIERS:
        blk = result.get(tier.key)
        if blk is None:
            continue
        if "skipped" in blk:
            (out if tier.action else scale)[tier.tag] = blk
        elif tier.action:
            out[tier.tag] = {
                "rps1": blk["rows_per_sec"],
                "rpsMega": blk["rows_per_sec_megabatch"],
                "rpsApp": blk.get("rows_per_sec_append"),
                "rpsSock": blk.get("socket", {}).get("rows_per_sec"),
                "sockSust": blk.get("socket_sustained", {}).get(
                    "max_steady_batch_ms"
                ),
                "curve": blk.get("trigger_curve_sec"),
            }
        else:
            b = {
                "fl": blk.get("floor", {}).get("shuffle"),
                "fr": blk.get("floor_ratio"),
                "ld": blk.get("load"),
                "s": short(blk["queries"]),
                "r": short(blk.get("ratio_vs_duckdb", {})),
            }
            if blk.get("contended"):
                b["contended"] = True
            if blk.get("trial_shed"):
                b["ts"] = [_SHORT.get(k, k) for k in blk["trial_shed"]]
            if tier.tag in ("x300", "x1000") and "spread" in blk:
                b["sp"] = short(blk["spread"])
            scale[tier.tag] = b
    if scale:
        out["scale"] = scale
        out["full"] = "BENCH_FULL.json"
    # Degrade ladder, least-informative first: the loadavg (fr is the
    # decision variable), the absolute floor (fr × the headline floor
    # rebuilds it), the spreads, absolute times (ratios carry the
    # story), then the shed key lists become counts — BENCH_FULL.json
    # keeps every field.
    line = json.dumps(out, separators=(",", ":"))
    for field in ("ld", "fl", "sp", "s", "ts"):
        if len(line) <= 1900:
            break
        for b in scale.values():
            if field == "ts" and "ts" in b:
                b["ts"] = len(b["ts"])
            else:
                b.pop(field, None)
        line = json.dumps(out, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scale_root = os.path.join(REPO, ".scale")
    host = stamp(scale_root)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host["nproc"])
    heap = os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEM", f"{driver_heap_mb(host['mem_available_mb'] << 20)}m"
    )
    spark = get_spark("bench", cpus=cpus)
    tune_for_data_size(spark, sf_dir, cpus=cpus)
    specs = all_specs()

    # The headline KEEPS df.cache() while the depth tiers drop it: at
    # sf0.1 the cache wins (headline sum 1.53 s cached vs 2.29 s direct
    # — file-open/footer fixed costs dominate 17 MiB of data).
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.cache()
        df.count()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = round(_best_of(prepare(specs[name], spark, sf_dir)), 4)

    result = {
        "metric": "headline_query_latency_sum",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "floor": _plan_floors(spark),
        "host": {**host, "cpus": cpus, "driver_mem": heap},
    }

    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        def run(tier: Tier, share_end: float) -> dict:
            scaled_dir = tier.corpus.build(spark, sf_dir, tier.factor)
            tune_for_data_size(spark, scaled_dir, cpus=cpus)
            if tier.action:
                return tier.action(spark, scaled_dir, tier.factor)
            return _probe(spark, scaled_dir, tier, share_end, result)

        result.update(run_tiers(TIERS, run, sf_dir, scale_root))
        tune_for_data_size(spark, sf_dir, cpus=cpus)

    # Full result to disk only; stdout carries ONLY the compact line, so
    # the driver's 2000-char stdout tail holds exactly one parseable
    # JSON object.  Probe-off / smoke runs must NOT clobber the
    # committed depth-tier artifact: only a run with the tiers owns
    # BENCH_FULL.json.
    full = dict(result)
    full["short_names"] = {v: k for k, v in _SHORT.items()}
    if "scale_probe" in result:
        try:
            with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
                json.dump(full, f, indent=1)
        except OSError as e:
            # A silently-failed write would leave a STALE committed
            # artifact disagreeing with the compact stdout line — warn
            # and flag the compact line so either stream shows it.
            print(f"WARNING: BENCH_FULL.json write failed: {e}", file=sys.stderr)
            result["full_write_failed"] = True
    print(_compact(result))
    spark.stop()


if __name__ == "__main__":
    main()
