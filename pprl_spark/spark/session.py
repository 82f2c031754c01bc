"""SparkSession builder tuned for the PPRL + sketch workload.

The defaults assume the sandbox shape (single JVM, ``local[N]``) but every
knob is the one you would set on a real 1000-executor cluster: AQE for
runtime re-planning and skew-join splitting, Arrow for the vectorized UDF
boundary, and a shuffle-partition count sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "resplit"]


def get_spark(
    app_name: str = "pprl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] / cluster → a sane multiple of parallelism
        try:
            shuffle_partitions = max(int(master.split("[")[1].rstrip("]")), 8)
        except (IndexError, ValueError):
            shuffle_partitions = 200

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
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
