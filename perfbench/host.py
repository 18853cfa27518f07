"""Host stamp and host-derived sizing.

Every result carries the stamp, so a number is never read without the
machine it came from. Sizing follows the host the benchmark runs on:
``local[nproc]`` and a driver heap taken from MemAvailable.
"""

from __future__ import annotations

import os
import shutil


def nproc() -> int:
    """CPUs this process may run on (the affinity mask, like ``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_mb(mem_available: int) -> int:
    """A quarter of MemAvailable, rounded down to 512 MiB and clamped to
    [1 GiB, 6 GiB]: enough for the 30x corpus's widest job, small
    enough to leave the page cache and the Python workers their share
    on a shared machine, and the same from run to run on one host."""
    quarter = (mem_available >> 20) // 4
    return int(min(6 << 10, max(1 << 10, quarter - quarter % 512)))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies since boot from /proc/stat: time this
    virtual machine's CPUs were ready to run but held by the host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def stamp(work_dir: str) -> dict:
    """Host facts recorded with every result."""
    import duckdb
    import pyspark

    os.makedirs(work_dir, exist_ok=True)
    return {
        "nproc": nproc(),
        "mem_available_mb": mem_available_bytes() >> 20,
        "free_disk_mb": shutil.disk_usage(work_dir).free >> 20,
        "loadavg": list(os.getloadavg()),
        "cpu_ticks": cpu_ticks(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")
