"""SparkSession factory.

The reference engine's entry point is a TCP server accepting SQL text
(StellarSQL ``src/main.rs``, ``src/connection/`` [pub, unverified]);
in a Spark-native engine the ``SparkSession`` *is* the entry point, so
this module only concentrates the session tuning in one place.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and join-strategy switching replace hand-tuning per query.
- ``spark.sql.shuffle.partitions`` is a *local* default (≈ cores);
  on a real cluster AQE's coalescing makes the initial number a cap,
  so a cluster deploy would raise it to 2-3× total cores.
  ``tune_for_data_size`` resizes it per dataset; inputs under 8 MiB
  get one partition. A stateful stream fixes its state-partition
  count from this conf when its checkpoint is created, and every
  state partition costs a task, a state delta and a sink file per
  micro-batch.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (UTC-naive) and are cluster-invariant.
- Streaming checkpoints go through Spark's FileSystem-based checkpoint
  manager, not the FileContext-based default: on a local filesystem
  without ``libhadoop`` the default forks ``chmod``/``readlink`` for
  every offset, commit, state-delta and checksum file.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] defaults to the CPUs this process may run on.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# the directory holding the stellarsql_spark package
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "stellarsql_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    cpus = cpus or DEFAULT_CPUS
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no \r progress-bar spam on stdout: the bench's final JSON
        # line must survive a 2000-char stdout tail window (r7/r8
        # BENCH artifacts were head-truncated to unparseable)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local[N] sessions keep their streaming checkpoints on file:.
        # There the FileSystem-based manager keeps the default's commit
        # guard (fail if the target exists, then a POSIX rename(2)) but
        # skips FileContext's getFileLinkStatus and setPermission, which
        # without libhadoop run readlink/chmod as child processes: about
        # 250 forks per micro-batch across the offset and commit logs,
        # the file-sink metadata log, state deltas and their checksums.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        # Python workers fork from worker_daemon, which keeps Python
        # 3.11's zipimporters from re-reading pyspark.zip and the
        # spark-core jar on every task's importlib.invalidate_caches():
        # about 220 ms of worker CPU (140-280 ms on a 4-core host)
        # before each Python task's function.
        # The worker path carries the repo root so the daemon (and the
        # engine's UDF modules) import from any working directory.
        .config("spark.python.daemon.module", "stellarsql_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_data_size(spark: SparkSession, sf_dir: str, cpus: int | None = None) -> SparkSession:
    """Size shuffle parallelism to the actual input volume.

    The engine rule (applied per dataset, all runtime-settable confs):
    - tiny inputs (< ~256 MiB): a handful of shuffle partitions
      (``min(cpus, 8)``) and AQE off — task-scheduling and
      stage-re-optimization latency dominate sub-second queries,
      measured ~30% of wall-clock at sf0.1. Inputs under 8 MiB get
      one partition: per-task fixed costs set their latency, not the
      data. A stream started after this call fixes its state width
      from it when its checkpoint is created, so perfbench's 6.25 MiB
      ``stream_ingest`` directory runs one state task per micro-batch
      instead of four (one task binary to deserialize, one state delta
      to commit, at most one sink file). The perfbench sf0.1 corpus
      (16.69 MiB) keeps ``min(cpus, 8)``;
    - mid-size inputs (256 – 768 MiB): shuffle width grows with the
      data (bytes/32 MiB, still AQE-off latency regime) — measured at
      the 100× probe (~1 GiB), 8 partitions leave the exchange-heavy
      plans 25% slower than 32, and at the 30× probe (~300 MiB)
      AQE-off still wins (b_join_inner best-of-5 0.610 vs 0.669 s);
    - large inputs (≥ 768 MiB): AQE on (skew splits, runtime
      coalescing, join re-planning) and initial shuffle partitions =
      bytes/128 MiB target floored at 2×cores (AQE coalesces down,
      never up, so the initial count is the ceiling).  The boundary
      was measured down from 2 GiB in round 5: at the 100× probe
      (~1.2 GiB) AQE-on takes b_join_inner from 1.74 to 1.69 s min
      and — the real win — cuts run variance (median 1.89 → 1.76 s).
      At 100 TB this tier is ~800k initial partitions capped by
      cluster-size guidance.
    """
    import glob
    import os

    cpus = cpus or DEFAULT_CPUS
    nbytes = sum(
        os.path.getsize(p)
        for pattern in ("*.parquet", "*/*.parquet")
        for p in glob.glob(os.path.join(sf_dir, pattern))
    )
    if nbytes < 256 << 20:
        width = 1 if nbytes < 8 << 20 else min(cpus, 8)
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    elif nbytes < 768 << 20:
        width = min(2 * cpus, max(8, nbytes // (32 << 20)))
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    else:
        spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * cpus, nbytes // (128 << 20))))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime confs every query needs regardless of who built the session.

    The driver harness owns the SparkSession it passes to ``entry``/
    ``queries()`` callables, so anything correctness-critical must be a
    runtime-settable conf applied here, not a builder-time conf.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
