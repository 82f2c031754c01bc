"""SparkSession builder tuned for the PPRL + sketch workload.

The defaults assume the sandbox shape (single JVM, ``local[N]`` over the
CPUs the process may use, a heap sized to the host's memory) but every
knob is the one you would set on a real 1000-executor cluster: AQE for
runtime re-planning and skew-join splitting, Arrow for the vectorized UDF
boundary, and a shuffle-partition count sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "resplit"]


def _default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else the smaller of 24g and half the
    physical memory (the Python workers and the OS need the rest)."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(24 << 10, physical_mb // 2)}m"


def get_spark(
    app_name: str = "pprl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{_default_cpus()}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] / cluster → a sane multiple of parallelism
        try:
            shuffle_partitions = max(int(master.split("[")[1].rstrip("]")), 8)
        except (IndexError, ValueError):
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # wide projections/aggregates must stay inside whole-stage
        # codegen; the default 100-field cap silently drops them to the
        # interpreted path (~6x slower measured at sf0.1)
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def resplit(df: DataFrame, floor: int | None = None) -> DataFrame:
    """Round-robin ``df`` up to ``floor`` partitions (default
    ``defaultParallelism``) ONLY when it has fewer: a small parquet table
    lands in 1-4 scan splits, which would serialize the expensive map-side
    work that follows (explode, md5, Arrow UDFs) on a few cores.  At
    production split counts this is a no-op; an unconditional repartition
    would add a full-corpus shuffle and coalesce DOWN."""
    if floor is None:
        floor = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < floor:
        return df.repartition(floor)
    return df
