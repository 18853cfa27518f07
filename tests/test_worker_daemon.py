"""``worker_daemon``: Python workers re-read a zip archive's directory
only when the archive changes."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from stellarsql_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter.invalidate_caches no longer re-reads"
)


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, f"X = {n!r}\n")


@needs_eager_reread
def test_wrapper_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # install() patches the process-wide zipimport; restore it afterwards
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport, "_engine_read_directory", None, raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    archive = tmp_path / "lib.zip"
    _write_zip(archive, ["a.py"])

    assert worker_daemon.install()
    assert worker_daemon.install()  # idempotent
    first = zipimport.zipimporter(str(archive))
    second = zipimport.zipimporter(str(archive))
    read = first._files
    for _ in range(3):
        first.invalidate_caches()
        second.invalidate_caches()
    assert first._files is read and second._files is read  # no re-read

    _write_zip(archive, ["a.py", "b.py"])
    os.utime(archive, ns=(0, 0))  # the key changes even within one mtime tick
    first.invalidate_caches()
    assert first._files is not read and "b.py" in first._files
    second.invalidate_caches()  # takes the new read, does not read again
    assert second._files is first._files
    assert second.find_spec("b") is not None


_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from stellarsql_spark.session import get_spark

def probe(batches):
    import importlib, zipimport
    importers = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
    before = [v._files for v in importers]
    importlib.invalidate_caches()
    kept = all(v._files is f for v, f in zip(importers, before))
    for _ in batches:
        yield pa.RecordBatch.from_pylist([{{
            "wrapped": getattr(zipimport, "_engine_read_directory", None) is not None,
            "zips": len(importers), "kept": kept}}])

spark = get_spark("worker-daemon-test", cpus=1)
rows = spark.range(2, numPartitions=2).mapInArrow(probe, "wrapped boolean, zips long, kept boolean").collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


@needs_eager_reread
def test_engine_session_workers_run_under_the_wrapper(tmp_path):
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_PROBE.format(repo=REPO))],
        cwd=tmp_path,  # outside the repo: the worker path must carry it
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(rows) == 2
    for r in rows:
        assert r["wrapped"] and r["zips"] > 0 and r["kept"], rows
