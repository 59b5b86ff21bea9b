"""SparkSession factory.

Local mode is a single JVM; on a real cluster these confs carry over
unchanged (AQE, Arrow, shuffle partitions sized to the cluster).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int) -> str:
    """``spark.driver.memory`` default for a host with ``phys_bytes`` of
    RAM: half of it in whole GiB (the Python workers and the OS need the
    rest — a 48g heap on a 16 GB host was OOM-killed), at least 1g, at
    most 48g."""
    return f"{min(48, max(1, phys_bytes // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "dts",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's required confs.

    Parallelism is taken from ``master`` (e.g. ``local[8]``) or the
    ``SPARK_GRAFT_CPUS`` env var (default: all cores). Shuffle partitions
    default to the core count — at cluster scale set this to ~2-3x the
    total executor cores instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Local corpora are small files; the 128 MB default packs the whole
        # scan into 1-2 tasks and serializes tokenization. 16 MB keeps scan
        # parallelism ≥ cores here; on a real cluster raise it back to
        # 128-256 MB (files there are GB-scale).
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("DTS_MAX_PART_BYTES", str(16 * 1024 * 1024)))
        # zstd: markedly better ratio than snappy at similar read speed
        # (optimization guide §6); index blobs are already entropy-coded
        # varint streams, so measure before assuming — A/B on the bench
        # showed parity walls with ~25% smaller postings.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("DTS_DRIVER_MEM")
            or default_driver_memory(
                os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_parallel(
    fns: Sequence[Callable[[], Any]], max_workers: int
) -> list[Any]:
    """Run the zero-argument callables ``fns`` on a thread pool of
    ``max_workers``; return their results in order.

    Each callable runs under ``pyspark.inheritable_thread_target``, so the
    Spark jobs it launches keep the calling thread's job group and
    description (a plain pool thread drops them). The first failure
    cancels the calls still queued and is re-raised once the running
    ones finish."""
    wrap = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [pool.submit(wrap(fn)) for fn in fns]
        try:
            return [fut.result() for fut in futures]
        except BaseException:
            pool.shutdown(cancel_futures=True)
            raise
