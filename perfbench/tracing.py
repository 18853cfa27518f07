"""Spans recorded around calls into the engine, and Spark's own event
log joined to them.

The benchmark never reaches inside ``stellarsql_spark``: a span opens
before a public call (a registry builder, ``spark.sql``, ``collect``,
a write) and closes after it, and every timed call runs under a Spark
job group named ``<workload>/<op>/<seq>``. After the session stops,
the event log (plain JSON, one event per line) is read back and each
task's metrics are credited to the job group of the stage that ran it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder; single-threaded, parents from a stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_ms(self, span: Span) -> float:
        """Duration minus the time covered by direct children (which
        never overlap: the tracer is single-threaded)."""
        return span.ms - sum(c.ms for c in self.children(span.id))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def check_span_tree(spans: list[Span], slack_ms: float = 0.5) -> list[str]:
    """Problems with the span tree: unknown or later parents, children
    outside their parent's interval, children that cover more time
    than their parent (a negative self time)."""
    by_id = {s.id: s for s in spans}
    problems = []
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.end < s.start:
            problems.append(f"span {s.id} {s.name} ends before it starts")
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None or p.id >= s.id:
            problems.append(f"span {s.id} {s.name} has bad parent {s.parent}")
            continue
        if s.start < p.start or s.end > p.end:
            problems.append(f"span {s.id} {s.name} lies outside parent {p.id} {p.name}")
        covered[p.id] += s.ms
    for pid, ms in covered.items():
        if ms > by_id[pid].ms + slack_ms:
            problems.append(f"children of span {pid} {by_id[pid].name} cover {ms:.1f} ms of {by_id[pid].ms:.1f}")
    return problems


# --- Spark event log -------------------------------------------------

# Task-level SQL metrics read from ``Task Info.Accumulables`` → layer
# metric. The timings among them are in milliseconds ("shuffle write
# time", in nanoseconds, is read from the task metrics instead).
_TASK_ACCUMS = {
    "scan time": "scan.time_ms",
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.start_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "task commit time": "sink.commit_ms",
}

EXEC_METRICS = (
    "exec.jobs", "exec.stages", "exec.stages_skipped", "exec.tasks",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.task_deser_ms", "exec.gc_ms",
    "exec.spill_bytes", "exec.peak_exec_mem_bytes",
    "scan.rows", "scan.bytes", "scan.time_ms",
    "exchange.write_bytes", "exchange.write_ms", "exchange.read_bytes", "exchange.fetch_wait_ms",
    "python.run_ms", "python.start_ms", "python.bytes_sent", "python.bytes_returned",
    "result.bytes",
    "sink.records", "sink.bytes", "sink.write_ms", "sink.commit_ms",
)


def read_event_log(log_dir: str) -> list[dict]:
    """All events logged under ``log_dir``: Spark 4 writes each
    application as ``eventlog_v2_<app>/events_<n>_<app>`` files of
    one JSON event per line (uncompressed, as the launch confs ask)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def group_of(props: dict) -> str | None:
    """Job group of a job or stage: the benchmark's own tag, or
    ``stream/<query id>/<batch id>`` for a micro-batch of a streaming
    query (whose jobs carry the query's run id as their job group)."""
    if "streaming.sql.batchId" in props:
        return f"stream/{props.get('sql.streaming.queryId')}/{props['streaming.sql.batchId']}"
    return props.get("spark.jobGroup.id") or None


def metrics_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: job, stage, skipped-stage and task counts, and
    task metric sums (see ``EXEC_METRICS``)."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_METRICS, 0))
    stage_group: dict[int, str] = {}
    job_stages: dict[int, tuple[str, set[int]]] = {}
    submitted: dict[int, set[int]] = {}  # job id → stages submitted while it ran
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = group_of(e.get("Properties") or {})
            if g is None:
                continue
            job_stages[e["Job ID"]] = (g, set(e["Stage IDs"]))
            submitted[e["Job ID"]] = set()
            out[g]["exec.jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            g = group_of(e.get("Properties") or {})
            if g is not None:
                stage_group[sid] = g
            for jid, seen in submitted.items():
                if sid in job_stages[jid][1]:
                    seen.add(sid)
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(e["Stage Info"]["Stage ID"])
            if g is not None:
                out[g]["exec.stages"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_stages:
                g, stages = job_stages.pop(jid)
                out[g]["exec.stages_skipped"] += len(stages - submitted.pop(jid))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is not None and e.get("Task Metrics"):
                _add_task(out[g], e)
    return dict(out)


def _add_task(m: dict[str, float], e: dict) -> None:
    tm = e["Task Metrics"]
    sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
    inp, outp = tm["Input Metrics"], tm["Output Metrics"]
    m["exec.tasks"] += 1
    m["exec.task_run_ms"] += tm["Executor Run Time"]
    m["exec.task_cpu_ms"] += tm["Executor CPU Time"] / 1e6
    m["exec.task_deser_ms"] += tm["Executor Deserialize Time"]
    m["exec.gc_ms"] += tm["JVM GC Time"]
    m["exec.spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    m["exec.peak_exec_mem_bytes"] = max(m["exec.peak_exec_mem_bytes"], tm["Peak Execution Memory"])
    m["scan.rows"] += inp["Records Read"]
    m["scan.bytes"] += inp["Bytes Read"]
    m["exchange.write_bytes"] += sw["Shuffle Bytes Written"]
    m["exchange.write_ms"] += sw["Shuffle Write Time"] / 1e6
    m["exchange.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    m["exchange.fetch_wait_ms"] += sr["Fetch Wait Time"]
    m["result.bytes"] += tm["Result Size"]
    if outp["Records Written"] or outp["Bytes Written"]:
        m["sink.records"] += outp["Records Written"]
        m["sink.bytes"] += outp["Bytes Written"]
        m["sink.write_ms"] += tm["Executor Run Time"]
    for acc in e["Task Info"].get("Accumulables", ()):
        name = _TASK_ACCUMS.get(acc.get("Name"))
        if name is not None and acc.get("Update") is not None:
            m[name] += float(acc["Update"])
