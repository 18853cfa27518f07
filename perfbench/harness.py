"""One benchmark run: the Spark session's lifetime, the timed operations,
and the metrics derived from them.

A workload (see ``workloads.py``) drives a ``Bench``: it opens the
session, ensures its inputs, warms up, runs timed operations through
``Bench.op`` and hands back what to verify. ``Bench`` owns everything
that is the same for every workload: host-derived sizing, launch
confs (the event log is switched on only for a traced run), job-group
tags, spans, the DuckDB check, and the end-to-end and per-layer
metrics.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import datagen, host, oracle, tracing

# Percentiles considered for the tail, highest first; the tail is the
# highest one with at least TAIL_BEYOND samples above it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10

CORPUS_SF = 0.1
CORPUS_SEED = 42

END_TO_END = ("setup_s", "jvm_peak_rss_mb", "op_gmean_ms", "ops_per_s", "rows_per_s")
# Reported beside the end-to-end metrics (summary line, detail file,
# traced.*) but not bounded: over a run's few distinct ops the median
# carries the noise of the one or two ops nearest the middle, and the
# tail rule picks the median itself below 40 samples.
OP_STATS = ("op_p50_ms", "op_tail_ms")
UNITS = {
    "setup_s": "s", "jvm_peak_rss_mb": "MB", "op_gmean_ms": "ms", "ops_per_s": "1/s", "rows_per_s": "rows/s",
    "op_p50_ms": "ms", "op_tail_ms": "ms",
}
E2E_UNITS = {m: UNITS[m] for m in END_TO_END}

SETUP_LAYERS = ("session.start_s", "inputs.ensure_s", "catalog.load_ms", "scale.ensure_s", "warmup_s")
PER_LAYER = (
    SETUP_LAYERS
    + ("operators.build_ms", "sql.parse_ms", "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms")
    + tuple(m for m in tracing.EXEC_METRICS if m != "sink.commit_ms")
    + ("exec.idle_slot_ms", "exec.skipping_ops", "sink.commit_ms", "result.rows")
    + (
        "stream.add_batch_ms", "stream.latest_offset_ms", "stream.get_batch_ms",
        "stream.query_planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
        "stream.state_rows", "stream.state_mem_bytes", "stream.state_commit_ms",
    )
    + ("verify.ms", "verify.mismatches")
    + tuple(f"traced.{m}" for m in END_TO_END + OP_STATS)
)


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.startswith("traced."):
        return UNITS[name[len("traced."):]]
    last = name.rsplit(".", 1)[-1]
    if last == "ms" or last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    return "B" if "bytes" in last else "count"


@dataclass
class Op:
    """One timed operation (a query, a job or a micro-batch)."""

    name: str
    seq: int
    pass_no: int
    group: str
    start: float = 0.0
    end: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    error: str | None = None
    check_key: str = ""  # the distinct query this op ran (verification unit)
    span_id: int | None = None
    phases: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) by the rule above; with
    fewer than 2 × TAIL_BEYOND samples, the slowest sample."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        beyond = int(n * (100.0 - p) / 100.0)
        if beyond >= TAIL_BEYOND:
            return percentile(values, p), p, beyond
    return max(values), 100.0, 0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool, t0: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t0
        self.t0_epoch = time.time() - (time.perf_counter() - t0)
        self.work = os.path.join(root, ".perfbench")
        self.run_dir = os.path.join(self.work, "runs", f"{workload}-seed{seed}-trace{int(trace)}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.tracer = tracing.Tracer()
        self.cores = host.nproc()
        self.stamp = {"start": host.stamp(self.work), "seed": seed, "workload": workload}
        self.heap_mb = host.driver_heap_mb(host.mem_available_bytes())
        self.spark = None
        self.jvm_pid: int | None = None
        self.ops: list[Op] = []
        self.timed_start: float | None = None
        self.timed_end: float | None = None
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.notes: dict = {}
        self.checks: dict[str, list[str]] = {}
        self.peak_rss_mb = 0.0
        self._seq = 0

    # --- session ---------------------------------------------------

    def start_session(self, app: str):
        """get_spark on ``local[nproc]`` with a MemAvailable-derived
        heap. Launch confs go through PYSPARK_SUBMIT_ARGS because the
        event log must be configured before the JVM starts."""
        local = os.path.join(self.run_dir, "local")
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(local)
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.heap_mb}m"
        java_opts = f"-Xms{self.heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}"
        # spark-submit first starts a small launcher JVM; keep it out of /tmp too
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        confs = [
            f"spark.local.dir={local}",
            f"spark.sql.warehouse.dir={os.path.join(self.run_dir, 'warehouse')}",
            "spark.sql.streaming.numRecentProgressUpdates=1000",
        ]
        if self.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir)
            confs += [
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir=file://{log_dir}",
            ]
        args = ["--driver-java-options", java_opts] + [a for c in confs for a in ("--conf", c)]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

        from stellarsql_spark.session import get_spark

        with self.tracer.span("session"):
            self.spark = get_spark(app, cpus=self.cores)
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        family = _descendants(self.jvm_pid) if self.jvm_pid else []
        self.spark.stop()
        self.spark = None
        sc._gateway.shutdown()
        type(sc)._gateway = type(sc)._jvm = None  # a later session launches a new JVM
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # the JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=30)
        _reap(family)

    # --- inputs ----------------------------------------------------

    def corpus(self) -> str:
        """The sf0.1 corpus, generated once per checkout from a fixed
        seed and reused (the per-run seed drives everything else)."""
        d = os.path.join(self.work, "corpus", f"sf{CORPUS_SF}_seed{CORPUS_SEED}")
        return datagen.write_corpus(d, CORPUS_SF, CORPUS_SEED)

    # --- timed operations ------------------------------------------

    def new_op(self, name: str, pass_no: int, check_key: str = "") -> Op:
        self._seq += 1
        return Op(name=name, seq=self._seq, pass_no=pass_no,
                  group=f"{self.workload}/{name}/{self._seq}", check_key=check_key or name)

    @contextmanager
    def op(self, op: Op):
        """Time one operation under its job group; an exception is
        recorded on the op (and counted as failed), not raised."""
        self.spark.sparkContext.setJobGroup(op.group, op.name)
        if self.timed_start is None:
            self.timed_start = time.perf_counter()
        with self.tracer.span("op", op=op.name, seq=op.seq, group=op.group) as s:
            op.span_id = s.id
            op.start = s.start
            try:
                yield op
            except Exception as exc:  # noqa: BLE001 - a failed op is a measured outcome
                op.error = f"{type(exc).__name__}: {exc}"[:2000]
        op.end = s.end
        self.timed_end = op.end
        self.ops.append(op)

    def force_plan(self, op: Op, df) -> None:
        """Traced runs only: run Catalyst to the executed plan before
        executing, and read the planning tracker's phase times."""
        with self.tracer.span("plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            op.phases[kv._1()] = float(kv._2().durationMs())

    def setup_done(self) -> None:
        """Mark the end of set-up: the next timed op starts the clock."""
        self.notes["setup_s"] = time.perf_counter() - self.t0

    def record_peak_rss(self) -> None:
        """Read the driver JVM's peak resident set (call right after the timed loop)."""
        self.peak_rss_mb = host.peak_rss_mb(self.jvm_pid)

    # --- verification ----------------------------------------------

    def check(self, key: str, spark_df, duck_df) -> None:
        """Compare one distinct output with its DuckDB answer."""
        if len(spark_df) == 0 and len(duck_df) == 0:
            problems = [] if sorted(spark_df.columns) == sorted(duck_df.columns) else ["columns differ"]
        else:
            problems = self._compare(key, spark_df, duck_df)
        self.checks[key] = problems

    @contextmanager
    def verifying(self):
        self._compare = oracle.load_compare(self.root)
        with self.tracer.span("verify") as s:
            yield
        self.layers["verify.ms"] = s.ms
        self.layers["verify.mismatches"] = sum(1 for p in self.checks.values() if p)

    # --- results ---------------------------------------------------

    def failed_ops(self) -> list[Op]:
        return [o for o in self.ops if o.error or self.checks.get(o.check_key)]

    def end_to_end(self, latencies_ms: list[float], rows: int, wall_s: float) -> dict[str, float]:
        t, p, beyond = tail(latencies_ms)
        self.notes["tail"] = {"percentile": p, "samples": len(latencies_ms), "beyond": beyond}
        return {
            "setup_s": self.notes["setup_s"],
            "jvm_peak_rss_mb": self.peak_rss_mb,
            "op_gmean_ms": statistics.geometric_mean(latencies_ms),
            "op_p50_ms": statistics.median(latencies_ms),
            "op_tail_ms": t,
            "ops_per_s": len(latencies_ms) / wall_s,
            "rows_per_s": rows / wall_s,
        }

    def span_total_ms(self, name: str, ops: list[Op]) -> float:
        ids = {o.span_id for o in ops}
        return sum(s.ms for s in self.tracer.spans if s.name == name and s.parent in ids)

    def fill_layers(self, ops: list[Op], by_group: dict[str, dict[str, float]]) -> None:
        """Per-layer metrics from spans, planner phases and the event
        log, summed over ``ops`` (the first timed pass)."""
        L = self.layers
        for name, key, scale in (("session", "session.start_s", 1e-3), ("inputs", "inputs.ensure_s", 1e-3),
                                 ("catalog", "catalog.load_ms", 1.0),
                                 ("scale", "scale.ensure_s", 1e-3), ("warmup", "warmup_s", 1e-3)):
            ms = [s.ms for s in self.tracer.spans if s.name == name]
            if ms:  # the stream workload sets warmup_s from its progress records
                L[key] = sum(ms) * scale
        L["operators.build_ms"] = self.span_total_ms("build", ops)
        L["sql.parse_ms"] = self.span_total_ms("sql.parse", ops)
        for phase in ("analysis", "optimization", "planning"):
            L[f"plan.{phase}_ms"] = sum(o.phases.get(phase, 0.0) for o in ops)
        L["result.rows"] = float(sum(o.rows_out for o in ops))
        exec_ms = {s.parent: s.ms for s in self.tracer.spans if s.name == "execute"}
        for o in ops:
            g = by_group.get(o.group)
            if g is None:
                continue
            for m, v in g.items():
                L[m] = max(L[m], v) if m == "exec.peak_exec_mem_bytes" else L[m] + v
            if g["exec.stages_skipped"]:
                L["exec.skipping_ops"] += 1
                self.notes.setdefault("skipping_ops", []).append(o.group)
            busy_ms = exec_ms.get(o.span_id, o.ms)
            L["exec.idle_slot_ms"] += busy_ms * self.cores - g["exec.task_run_ms"]

    def result(self, e2e: dict[str, float]) -> dict:
        failed = len(self.failed_ops())
        attempted = len(self.ops)
        self.notes["op_stats"] = {m: e2e[m] for m in OP_STATS}
        if self.trace:
            for m, v in e2e.items():
                self.layers[f"traced.{m}"] = v
            metrics = {m: {"value": float(self.layers[m]), "unit": layer_unit(m)} for m in PER_LAYER}
        else:
            metrics = {m: {"value": float(e2e[m]), "unit": E2E_UNITS[m]} for m in END_TO_END}
        self.stamp["end"] = host.stamp(self.work)
        (steal0, total0), (steal1, total1) = self.stamp["start"]["cpu_ticks"], self.stamp["end"]["cpu_ticks"]
        self.stamp["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        detail = {
            "host": self.stamp,
            "driver_heap_mb": self.heap_mb,
            "failed_share": failed / attempted if attempted else 1.0,
            "end_to_end": e2e,
            "per_layer": self.layers if self.trace else None,
            "notes": self.notes,
            "checks": self.checks,
            "errors": {o.group: o.error for o in self.ops if o.error},
            "ops": [{"name": o.name, "group": o.group, "pass": o.pass_no, "ms": o.ms,
                     "rows_in": o.rows_in, "rows_out": o.rows_out} for o in self.ops],
        }
        out_dir = os.path.join(self.work, "results")
        os.makedirs(out_dir, exist_ok=True)
        base = os.path.join(out_dir, f"{self.workload}-seed{self.seed}-trace{int(self.trace)}")
        with open(base + ".json", "w") as f:
            json.dump(detail, f, indent=1, default=str)
        self.tracer.dump(base + ".spans.json")
        self.notes["detail_file"] = os.path.relpath(base + ".json", self.root)
        # Outputs, inputs and Spark scratch go; a traced run's event log stays.
        for entry in os.listdir(self.run_dir):
            if entry != "eventlog":
                shutil.rmtree(os.path.join(self.run_dir, entry), ignore_errors=True)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid`` (read from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
