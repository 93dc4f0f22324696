"""SparkSession factory, and the registry of relations shared across queries
within one application (:func:`shared_relation`).

Scale notes: AQE on (coalesce partitions + skew-join) replaces the
reference's hand-tuned ``repartition(4*count/1000)`` heuristics
(reference: ExtractCandidates.scala:102-103, feature/Utils.scala:110-121).
Shuffle partitions default to the local core count for tests; on a real
cluster leave them high and let AQE coalesce.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
# Default local[N] width; more cores than the host has only adds contention.
DEFAULT_CPUS = 32


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


def local_cpus() -> int:
    """Local-mode core count for :func:`get_spark`: ``$SPARK_GRAFT_CPUS``
    when set, else ``DEFAULT_CPUS`` capped at the host's core count."""
    explicit = os.environ.get("SPARK_GRAFT_CPUS")
    if explicit:
        return int(explicit)
    return min(DEFAULT_CPUS, os.cpu_count() or DEFAULT_CPUS)


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
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

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


# --- shared relations --------------------------------------------------------

SHARED_RELATIONS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_persisted: dict[tuple[str, str], DataFrame] = {}
_application: str | None = None


def shared_relation(
    build: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Register ``build(spark, sf_dir)`` as a shared relation: an expensive
    projection that several queries read, built once and reused, as the
    reference saves its featurized corpus once and reuses it across jobs
    (ExtractCandidates.scala:148-156).

    The returned accessor keeps ``build``'s name and ``(spark, sf_dir)``
    signature. It is added to ``SHARED_RELATIONS`` in definition order,
    under its name without leading underscores. The one cache contract:

    - ``build`` runs once per (application, name, sf_dir). Its result is
      persisted and lives until the application ends; nothing evicts it.
    - Every caller gets a ``filter(lit(True))`` wrapper over the persisted
      frame, so a caller's ``unpersist()`` cannot drop the shared relation
      for the callers after it. The optimizer removes the filter, so the
      caller's plan reads the cached relation unchanged. A projection
      wrapper such as ``select("*")`` does not protect it: on Spark 4.1
      ``unpersist()`` of a projection over a cached plan finds and drops
      the cached plan itself.
    - The first call under a new SparkContext application drops the
      previous application's entries: their frames belong to a stopped
      context and cannot be read.
    """
    name = build.__name__.lstrip("_")

    @functools.wraps(build)
    def accessor(spark: SparkSession, sf_dir: str) -> DataFrame:
        global _application
        app = spark.sparkContext.applicationId
        if app != _application:
            _persisted.clear()
            _application = app
        frame = _persisted.get((name, sf_dir))
        if frame is None:
            frame = _persisted[(name, sf_dir)] = build(spark, sf_dir).persist()
        return frame.filter(F.lit(True))

    SHARED_RELATIONS[name] = accessor
    return accessor
