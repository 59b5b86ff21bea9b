"""Environment pinning and the header stamped on every result.

Results are only comparable when they come from the same host with the
same pinned Spark settings, so every result carries a header and
``same_host`` refuses a comparison when the host fields differ.
"""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import time
from pathlib import Path

# The driver heap the engine gets. ``get_spark`` defaults to 48g, more than
# most hosts have; a fixed, smaller value keeps runs alike on both sides of
# a comparison.
DRIVER_MEM = "4g"

# Header fields that must match before two results may be compared. The
# code fields (``git_commit``, ``source_fingerprint``) are left out: they
# differ by design when a change is measured against its parent.
HOST_KEYS = (
    "nproc",
    "cpu_model",
    "mem_total_kb",
    "SPARK_GRAFT_CPUS",
    "DTS_DRIVER_MEM",
    "python",
    "pyspark",
    "pyarrow",
    "numpy",
    "pandas",
)


def pin_environment() -> None:
    """Pin the engine's parallelism and heap (read by ``dts.session``)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["DTS_DRIVER_MEM"] = DRIVER_MEM


def source_fingerprint(root: Path) -> str:
    """sha256 over the engine and benchmark sources: the cache key for
    every input and expectation derived from them."""
    h = hashlib.sha256()
    for sub in ("dts", "perfbench"):
        for p in sorted((root / sub).glob("*.py")):
            h.update(p.name.encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_commit(root: Path) -> str:
    """HEAD of the checkout, read without running git; "none" outside a
    git repository."""
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return "none"
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    target = root / ".git" / ref[5:]
    if target.is_file():
        return target.read_text().strip()
    packed = root / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return "unknown"


def _proc_field(path: str, key: str) -> str:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def cpu_calibration() -> float:
    """Seconds a fixed pure-Python loop takes (median of nine), a figure
    of the host's speed at the moment: taken at the start and the end of
    every run, it shows drift of the host between and within runs."""
    def once():
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(9))


def header(root: Path) -> dict:
    """The environment of a run. ``cpu_calibration_s`` holds
    ``cpu_calibration()`` at the start; the run appends it at the end."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpu_model": _proc_field("/proc/cpuinfo", "model name"),
        "mem_total_kb": _proc_field("/proc/meminfo", "MemTotal").split()[0],
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "DTS_DRIVER_MEM": os.environ.get("DTS_DRIVER_MEM"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "git_commit": _git_commit(root),
        "source_fingerprint": source_fingerprint(root),
        "cpu_calibration_s": [cpu_calibration()],
    }


def same_host(a: dict, b: dict) -> list[str]:
    """Host fields on which two headers differ (empty: comparable)."""
    return [k for k in HOST_KEYS if a.get(k) != b.get(k)]
