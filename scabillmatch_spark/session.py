"""SparkSession factory.

Scale notes: AQE on (coalesce partitions + skew-join) replaces the
reference's hand-tuned ``repartition(4*count/1000)`` heuristics
(reference: ExtractCandidates.scala:102-103, feature/Utils.scala:110-121).
Shuffle partitions default to the local core count for tests; on a real
cluster leave them high and let AQE coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Default driver heap. 16g thrashed GC once the shared caches (corpus token
# arrays, scored-pair relations, graph edges) of a dense corpus accumulated
# across a long query sequence — measured 3x inflation across the whole
# bench (296s -> 97s at 48g, same code/data). But a heap limit the host
# cannot back never comes under GC pressure before it outgrows RAM: the
# kernel kills the JVM instead (48g on a 16 GB host). So the default is 48g
# capped at this fraction of physical memory; the rest backs the JVM's
# off-heap memory (spark.driver.memoryOverheadFactor, 0.10 of the heap with
# a 384 MiB floor) and the Python side: the driver process with its DuckDB
# oracles and the local Python workers. 48g stays the default on hosts with
# 80 GiB or more. On a real cluster this is spark.executor.memory sizing,
# not driver sizing.
DEFAULT_DRIVER_MEMORY_MIB = 48 * 1024
HOST_MEMORY_FRACTION = 0.6


def _host_memory_bytes() -> int | None:
    """Physical memory of this host, or None where the OS does not report it."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return None
    return total if total > 0 else None


def driver_memory() -> str:
    """``spark.driver.memory`` for :func:`get_spark`: ``$SPARK_DRIVER_MEMORY``
    exactly as given, else 48g capped at ``HOST_MEMORY_FRACTION`` of the
    host's physical memory (48g where that cannot be read)."""
    explicit = os.environ.get("SPARK_DRIVER_MEMORY")
    if explicit:
        return explicit
    host = _host_memory_bytes()
    mib = DEFAULT_DRIVER_MEMORY_MIB
    if host is not None:
        mib = min(mib, int(host * HOST_MEMORY_FRACTION) >> 20)
    return "48g" if mib == DEFAULT_DRIVER_MEMORY_MIB else f"{mib}m"


def get_spark(
    app_name: str = "scabillmatch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is enabled so runtime statistics drive partition coalescing and
    skew-join splitting; on a 1000-executor cluster the same code runs
    unchanged with a higher initial ``spark.sql.shuffle.partitions``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # similarity scoring is CPU-dense per byte: prefer more, smaller
        # post-shuffle partitions over AQE's 64m default
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as long, the
        # reader converts to a micros timestamp (matches DuckDB's truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: the driver JVM is the whole cluster, so the driver
        # heap IS executor memory; see driver_memory() for its sizing
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
