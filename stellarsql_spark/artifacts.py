"""Materialized artifacts: the one reuse protocol behind every ``ensure_*``.

Layouts, serving rollups, indexes and scaled corpora are built once per
input fingerprint and reused across sessions.  A builder declares only
its output directories, its fingerprint and its build body; this module
owns everything else:

- the artifact path, ``<warehouse>/<prefix>_<tag>`` with ``tag``
  derived from the corpus directory (``warehouse_path``);
- the fast path: the marker file holds the fingerprint, and every
  directory the marker vouches for still has its ``_SUCCESS``;
- the build, serialized across sessions by an exclusive flock beside
  the marker's directory and double-checked under the lock;
- the marker, written last, after the build returns;
- metadata-only re-registration of bucketed catalog tables, whose
  files outlive the in-memory catalog (``ensure_bucketed_table``).

A marker's content is part of every artifact's on-disk identity:
changing how a fingerprint is spelled rebuilds every cached artifact
and corpus that carries it.
"""

from __future__ import annotations

import fcntl
import os
import shutil
from collections.abc import Callable, Iterable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sf_tag(sf_dir: str) -> str:
    """Catalog-safe identifier of a corpus directory."""
    return "".join(ch if ch.isalnum() else "_" for ch in sf_dir.rstrip("/")).strip("_")


def warehouse_path(spark: SparkSession, prefix: str, sf_dir: str) -> str:
    """``<warehouse>/<prefix>_<tag>``: where an artifact of the corpus
    at ``sf_dir`` lives."""
    return os.path.join(warehouse_dir(spark), f"{prefix}_{sf_tag(sf_dir)}")


def warehouse_dir(spark: SparkSession) -> str:
    return urlparse(spark.conf.get("spark.sql.warehouse.dir")).path


def _current(marker: str, fp: str, published: Iterable[str]) -> bool:
    """The marker holds ``fp`` and every directory it vouches for still
    holds a completed parquet write (its ``_SUCCESS`` file).  Checking
    only the marker's own directory would serve a companion deleted
    independently of it."""
    try:
        with open(marker) as f:
            if f.read() != fp:
                return False
    except OSError:
        return False
    return all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in published)


def ensure(home: str, marker: str, fp: str, build: Callable[[], None],
           published: Iterable[str] | None = None) -> None:
    """Run ``build()`` unless the artifact at ``home`` is current for
    ``fp``.

    ``marker`` names the file in ``home`` that records the fingerprint
    of the last completed build.  ``published`` lists every directory
    the marker vouches for (default: ``home`` itself); each must hold a
    ``_SUCCESS`` file for the artifact to count as current.  The build
    must (re)create ``home``.

    Builds are serialized across sessions via an exclusive lock file
    beside ``home``: two sessions materializing the same artifact could
    otherwise interleave their overwrite and marker writes, leaving a
    marker that describes a partially-overwritten directory.  flock
    gives single-host mutual exclusion (every session that builds
    these artifacts runs on one host); on a real multi-writer lake
    this job belongs to a transactional table format's commit
    protocol, not a marker file.  Double-checked: the state is re-read
    under the lock so the loser of the race returns the winner's
    build.

    Known TOCTOU (accepted): the fast path runs OUTSIDE the lock, so a
    reader could pass the check just before a concurrent rebuild
    removes a companion dir.  The protocol therefore assumes
    SINGLE-WRITER-per-fingerprint operation — true by construction,
    since a build for a given fingerprint only ever happens when that
    fingerprint has no valid marker yet (rebuilds are triggered by
    corpus regeneration, which changes the fingerprint, never by
    overwriting a currently-valid artifact in place).  Hardening for a
    concurrent-invalidation world would take LOCK_SH in the fast path;
    a real lake gets this from its table format's snapshot isolation."""
    marker = os.path.join(home, marker)
    published = (home,) if published is None else tuple(published)
    if _current(marker, fp, published):
        return
    lock_path = home.rstrip("/") + ".lock"
    os.makedirs(os.path.dirname(lock_path) or ".", exist_ok=True)
    with open(lock_path, "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if _current(marker, fp, published):
            return
        build()
        with open(marker, "w") as f:
            f.write(fp)


def ensure_bucketed_table(
    spark: SparkSession,
    prefix: str,
    sf_dir: str,
    df: DataFrame,
    key: str,
    n_buckets: int,
    fp: str,
    sorted_by: str | None = None,
) -> str:
    """``df`` as the catalog table ``<prefix>_<tag>``, bucketed (and
    optionally sorted) by ``key``; returns the table name.

    The on-disk fingerprint is checked on every call: a catalog hit
    alone would keep serving buckets built from an old corpus.  When
    the files are current but this session's in-memory catalog has no
    entry (another session built them), the table is re-registered
    over its location without rewriting the data."""
    name = f"{prefix}_{sf_tag(sf_dir)}"
    loc = os.path.join(warehouse_dir(spark), name)

    def _build() -> None:
        if spark.catalog.tableExists(name):
            spark.sql(f"DROP TABLE {name}")
        shutil.rmtree(loc, ignore_errors=True)
        # Repartition by the bucket key first: DataFrame hash
        # partitioning and bucket-id assignment share Murmur3 mod N, so
        # each writer task emits ONE file per bucket — the only layout
        # where Spark trusts the per-bucket sortBy order at read time.
        w = df.repartition(n_buckets, F.col(key)).write.bucketBy(n_buckets, key)
        if sorted_by:
            w = w.sortBy(sorted_by)
        w.mode("overwrite").saveAsTable(name)

    ensure(loc, "_BUCKETS_DONE", fp, _build)
    if not spark.catalog.tableExists(name):
        _recreate_over_location(spark, name, df, key, n_buckets, loc, sorted_by)
    return name


def _recreate_over_location(spark: SparkSession, name: str, df: DataFrame,
                            key: str, n_buckets: int, location: str,
                            sorted_by: str | None) -> None:
    """Re-register an existing bucketed directory as a catalog table
    WITHOUT rewriting the data. The in-memory catalog forgets tables
    between sessions while the warehouse files persist; re-declaring
    the same CLUSTERED BY (and SORTED BY, when the writer sortBy'd)
    spec over the same files restores the bucket metadata — at a
    GiB-scale corpus this turns a per-session multi-GiB rewrite into a
    metadata-only CREATE."""
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    sort_clause = f"SORTED BY ({sorted_by}) " if sorted_by else ""
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({key}) {sort_clause}INTO {n_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )
