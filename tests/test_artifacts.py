"""The artifact reuse protocol (stellarsql_spark/artifacts.py), driven
with plain-Python builds: no Spark session is needed to pin when an
artifact is reused and when it is rebuilt."""

from __future__ import annotations

import os
import threading
import time

from stellarsql_spark.artifacts import ensure, sf_tag


class Build:
    """A build that publishes ``dirs`` (each with a ``_SUCCESS``) and
    counts its runs."""

    def __init__(self, *dirs: str, delay: float = 0.0):
        self.dirs, self.delay, self.runs = dirs, delay, 0

    def __call__(self) -> None:
        self.runs += 1
        time.sleep(self.delay)
        for d in self.dirs:
            os.makedirs(d, exist_ok=True)
            open(os.path.join(d, "_SUCCESS"), "w").close()


def test_recall_is_a_noop(tmp_path):
    home = str(tmp_path / "art")
    build = Build(home)
    ensure(home, "_DONE", "fp1", build)
    mtime = os.stat(os.path.join(home, "_DONE")).st_mtime_ns
    ensure(home, "_DONE", "fp1", build)
    assert build.runs == 1
    assert os.stat(os.path.join(home, "_DONE")).st_mtime_ns == mtime
    with open(os.path.join(home, "_DONE")) as f:
        assert f.read() == "fp1"


def test_changed_fingerprint_rebuilds(tmp_path):
    home = str(tmp_path / "art")
    build = Build(home)
    ensure(home, "_DONE", "fp1", build)
    ensure(home, "_DONE", "fp2", build)
    assert build.runs == 2
    with open(os.path.join(home, "_DONE")) as f:
        assert f.read() == "fp2"


def test_deleted_published_dir_rebuilds(tmp_path):
    """The marker vouches for every published directory, not only the
    one it lives in."""
    import shutil

    home, companion = str(tmp_path / "art"), str(tmp_path / "companion")
    build = Build(home, companion)
    ensure(home, "_DONE", "fp1", build, published=(home, companion))
    shutil.rmtree(companion)
    ensure(home, "_DONE", "fp1", build, published=(home, companion))
    assert build.runs == 2
    assert os.path.exists(os.path.join(companion, "_SUCCESS"))


def test_concurrent_callers_build_once(tmp_path):
    """Both callers miss the fast path; the flock plus the re-check
    under it leaves exactly one build."""
    home = str(tmp_path / "art")
    build = Build(home, delay=0.5)
    start = threading.Barrier(2)

    def call() -> None:
        start.wait()
        ensure(home, "_DONE", "fp1", build)

    threads = [threading.Thread(target=call) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert build.runs == 1
    assert os.path.exists(str(tmp_path / "art.lock"))


def test_sf_tag_is_stable():
    """Artifact paths and catalog names embed this tag; changing it
    would orphan every artifact already built."""
    assert sf_tag("/data/tpch/sf0.001/") == "data_tpch_sf0_001"
