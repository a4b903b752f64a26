"""SparkSession factory tuned for the engine.

Local mode is the sandbox proxy for a multi-executor cluster: partitioning
decisions (tile buckets, salted joins, AQE skew handling) are made as if each
partition lived on a different executor, so the same code scales out under
spark-submit --py-files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Cores this process may run on (the CPU affinity mask, as ``nproc``)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "geospatialtools_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (else ``host_cpus()``). Shuffle
    partitions default to the core count — at cluster scale this would be
    2-3x the total executor cores; AQE coalesces the excess either way.
    The driver heap is $SPARK_DRIVER_MEMORY, else a quarter of physical RAM,
    so the JVM spills before it can outgrow the host (a fixed large heap
    gets OOM-killed on a small box first).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or host_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or f"{ram // 4 // 2**20}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative operators localCheckpoint per round; without periodic JVM
        # GC the ContextCleaner never sees the dropped weak refs (a large
        # heap rarely fills) and dead checkpoint blocks pile up in the unified
        # memory pool, degrading every later query in a long session
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_blocks(spark: SparkSession) -> None:
    """Force a JVM GC so the ContextCleaner drops checkpoint/broadcast blocks
    whose Python references are gone.

    Long multi-query sessions (the correctness gate runs 52 queries in one
    session) otherwise accumulate dead localCheckpoint blocks in the unified
    memory pool — measured 5.7x slowdown on the terrain chain at query 46 vs
    a fresh session. Checkpoint-heavy queries call this on entry.
    """
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
