"""Python worker daemon for engine sessions: ``pyspark.daemon`` with
zip directories re-read only when their archive changes.

Every Python task (pandas UDF, ``mapInArrow``, ``applyInPandas``, ...)
calls ``importlib.invalidate_caches()`` before its function runs. On
Python 3.11 and 3.12 that makes every ``zipimporter`` re-read its
archive's central directory at once, and a reused worker holds about
16 of them: twelve on ``pyspark.zip`` (1,328 entries) and two on the
spark-core jar (5,359 entries) that Spark puts on the worker path.
One call measured 140-280 ms inside a worker (4-core host), paid before
each task.
Python 3.13 only drops the cache there, so the wrapper is not needed.

``get_spark`` names this module in ``spark.python.daemon.module``; the
daemon is the only hook, since ``pyspark.daemon`` imports only
``pyspark*`` worker modules. Workers are forked from the daemon, so
the wrapper installed here is in every worker.

Run as ``python -m stellarsql_spark.worker_daemon``, as Spark does.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> ((st_mtime_ns, st_size), files) of ``_read_directory``'s last read
_reads: dict[str, tuple] = {}


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def install() -> bool:
    """Wrap ``zipimport``'s directory reader and
    ``zipimporter.invalidate_caches`` so that, while an archive's
    ``(st_mtime_ns, st_size)`` is unchanged since its last read, an
    importer takes that read from the shared directory cache instead of
    reading the archive again. Idempotent; returns whether the wrapper
    is in place."""
    if sys.version_info >= (3, 13):
        return False
    if getattr(zipimport, "_engine_read_directory", None) is not None:
        return True
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        key = _stat_key(archive)  # before the read: a racing rewrite re-reads later
        files = read_directory(archive)
        _reads[archive] = (key, files)
        return files

    def invalidate_caches(self):
        key, files = _reads.get(self.archive, (None, None))
        if (
            key is not None
            and files is zipimport._zip_directory_cache.get(self.archive)
            and _stat_key(self.archive) == key
        ):
            self._files = files
            return
        invalidate(self)

    zipimport._engine_read_directory = read_directory
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    install()
    # One read per archive in the daemon, before it forks any worker.
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
