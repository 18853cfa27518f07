"""Tests of the benchmark itself: the metric rules, the span and
event-log bookkeeping, the input generators, the contract in
BENCHMARK.json, and each workload end to end on tiny inputs.

    python3 -m pytest perfbench -q

The workload tests start one Spark JVM each (about a minute in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, harness, tracing, workloads  # noqa: E402
from perfbench.run import summary  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)


# --- metric rules ----------------------------------------------------

def test_tail_takes_highest_percentile_with_ten_beyond():
    assert harness.tail([float(i) for i in range(20)])[1:] == (50.0, 10)
    assert harness.tail([float(i) for i in range(40)])[1:] == (75.0, 10)
    assert harness.tail([float(i) for i in range(100)])[1:] == (90.0, 10)
    value, p, beyond = harness.tail([3.0, 1.0, 2.0])
    assert (value, p, beyond) == (3.0, 100.0, 0)


def test_percentile_interpolates_like_numpy():
    import numpy as np

    vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for p in (0, 25, 50, 75, 90, 100):
        assert harness.percentile(vals, p) == pytest.approx(np.percentile(vals, p))


def test_span_tree_checks():
    t = tracing.Tracer()
    with t.span("op"):
        with t.span("build"):
            pass
        with t.span("execute"):
            pass
    assert tracing.check_span_tree(t.spans) == []
    assert all(t.self_ms(s) >= 0 for s in t.spans)
    bad = [tracing.Span(0, None, "op", 0.0, 1.0), tracing.Span(1, 0, "execute", 0.5, 1.5)]
    assert any("outside" in p for p in tracing.check_span_tree(bad))
    bad = [tracing.Span(0, None, "op", 0.0, 1.0), tracing.Span(1, 0, "a", 0.0, 0.8),
           tracing.Span(2, 0, "b", 0.2, 1.0)]
    assert any("cover" in p for p in tracing.check_span_tree(bad))


def _task(stage, run_ms, rows=0, written=0, accums=()):
    zero_read = {"Remote Bytes Read": 0, "Local Bytes Read": 0, "Fetch Wait Time": 0}
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)} for n, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "Executor Deserialize Time": 1, "JVM GC Time": 0, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0, "Peak Execution Memory": 64, "Result Size": 100,
            "Shuffle Read Metrics": zero_read,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10, "Shuffle Write Time": 2_000_000},
            "Input Metrics": {"Records Read": rows, "Bytes Read": rows * 8},
            "Output Metrics": {"Records Written": written, "Bytes Written": written * 4},
        },
    }


def test_event_log_join_by_job_group():
    props = {"spark.jobGroup.id": "w/q/1"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": props},
        _task(0, 30, rows=1000, accums=[("scan time", 7), ("time to run Python workers", 5)]),
        _task(0, 20, rows=500),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": props},
        _task(1, 10, written=42),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0},
        # a second job that lists stage 0 again without running it: a skipped stage
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 2],
         "Properties": {"spark.jobGroup.id": "w/q/2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {"spark.jobGroup.id": "w/q/2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"streaming.sql.batchId": "4", "sql.streaming.queryId": "qid"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2},
    ]
    g = tracing.metrics_by_group(events)
    q1 = g["w/q/1"]
    assert (q1["exec.jobs"], q1["exec.stages"], q1["exec.stages_skipped"], q1["exec.tasks"]) == (1, 2, 0, 3)
    assert q1["exec.task_run_ms"] == 60 and q1["scan.rows"] == 1500 and q1["scan.time_ms"] == 7
    assert q1["python.run_ms"] == 5 and q1["exchange.write_ms"] == pytest.approx(6.0)
    assert (q1["sink.records"], q1["sink.bytes"], q1["sink.write_ms"]) == (42, 168, 10)
    assert q1["exec.peak_exec_mem_bytes"] == 64
    assert g["w/q/2"]["exec.stages_skipped"] == 1
    assert g["stream/qid/4"]["exec.jobs"] == 1


# --- inputs ----------------------------------------------------------

def test_corpus_is_a_function_of_the_seed(tmp_path):
    from stellarsql_spark.catalog import TABLES

    a = datagen.write_corpus(str(tmp_path / "a"), 0.001, 7)
    b = datagen.write_corpus(str(tmp_path / "b"), 0.001, 7)
    c = datagen.write_corpus(str(tmp_path / "c"), 0.001, 8)
    for t in TABLES:
        ta, tb = pq.read_table(f"{a}/{t}.parquet"), pq.read_table(f"{b}/{t}.parquet")
        assert ta.equals(tb), t
        assert ta.num_rows == datagen.table_sizes(0.001)[t]
    assert not pq.read_table(f"{a}/lineitem.parquet").equals(pq.read_table(f"{c}/lineitem.parquet"))
    lineitem = pq.read_table(f"{a}/lineitem.parquet").to_pandas()
    assert ((lineitem.l_extendedprice * 100).round() / 100 == lineitem.l_extendedprice).all()


def test_stream_files_stay_within_the_watermark(tmp_path):
    d = datagen.write_stream_files(str(tmp_path / "s"), seed=3, n_files=3, rows_per_file=2000)
    hour = 3_600_000_000
    for i, name in enumerate(sorted(os.listdir(d))):
        ts = pq.read_table(os.path.join(d, name))["ts"].cast("int64").to_numpy()
        start = datagen._EPOCH_2024 + i * hour
        assert ts.max() < start + hour
        assert ts.min() > start - workloads.STREAM_WATERMARK_US


# --- contract --------------------------------------------------------

def test_benchmark_json_matches_what_the_runs_print():
    assert set(CONTRACT) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in CONTRACT["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in CONTRACT["end_to_end"]} == harness.E2E_UNITS
    assert {m["name"]: m["unit"] for m in CONTRACT["per_layer"]} == {
        m: harness.layer_unit(m) for m in harness.PER_LAYER
    }
    setup = next(m for m in CONTRACT["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in CONTRACT["end_to_end"])


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = CONTRACT["command"] + ["--workload", "interactive", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# --- workloads on tiny inputs ---------------------------------------

@pytest.fixture(scope="module")
def tiny_corpus():
    d = os.path.join(ROOT, ".perfbench", "corpus", "test_sf0.001")
    return datagen.write_corpus(d, 0.001, 7)


def _run(workload, trace, **kw):
    b = harness.Bench(ROOT, workload, seed=9000 + trace, seconds=1, trace=bool(trace), t0=time.perf_counter())
    try:
        result = workloads.WORKLOADS[workload](b, **kw)
    finally:
        b.stop_session()
    return b, result


def _assert_run(b, result, trace):
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = CONTRACT["per_layer"] if trace else CONTRACT["end_to_end"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in expected}
    line = summary(b, result)
    for m in expected:
        assert f"{m['name']}=" in line and f" {m['unit']}" in line
    assert tracing.check_span_tree(b.tracer.spans) == []
    assert all(b.tracer.self_ms(s) >= -0.5 for s in b.tracer.spans)
    if trace:
        L = {m: v["value"] for m, v in result["metrics"].items()}
        assert L["exec.jobs"] > 0 and L["exec.tasks"] > 0 and L["exec.task_run_ms"] > 0
        assert L["exec.stages_skipped"] == 0 and L["exec.skipping_ops"] == 0
        assert L["verify.mismatches"] == 0 and L["traced.op_gmean_ms"] > 0 and L["traced.op_p50_ms"] > 0
        return L
    assert all(v["value"] > 0 for v in result["metrics"].values())
    return None


def test_interactive_traced(tiny_corpus):
    b, result = _run("interactive", 1, sf_dir=tiny_corpus)
    L = _assert_run(b, result, 1)
    assert result["attempted"] == len(workloads.INTERACTIVE_KEYS) + 4
    assert L["operators.build_ms"] > 0 and L["sql.parse_ms"] > 0 and L["result.rows"] > 0
    assert L["plan.analysis_ms"] + L["plan.optimization_ms"] + L["plan.planning_ms"] > 0
    assert L["python.run_ms"] > 0 and L["scan.rows"] > 0


def test_batch_traced(tiny_corpus):
    b, result = _run("batch_x30", 1, base_dir=tiny_corpus, factor=2)
    L = _assert_run(b, result, 1)
    assert result["attempted"] == len(workloads.BATCH_JOBS)
    assert L["sink.records"] > 0 and L["sink.bytes"] > 0 and L["scan.rows"] > 0
    assert L["scale.ensure_s"] > 0 and L["result.rows"] == 0


def test_stream_traced_and_untraced():
    b, result = _run("stream_ingest", 1, timed_files=3, rows_per_file=500)
    L = _assert_run(b, result, 1)
    assert result["attempted"] == 3
    assert L["stream.add_batch_ms"] > 0 and L["stream.state_rows"] > 0 and L["sink.records"] > 0
    b, result = _run("stream_ingest", 0, timed_files=3, rows_per_file=500)
    _assert_run(b, result, 0)
