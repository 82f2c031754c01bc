"""SparkSession builder tuned for the PPRL + sketch workload.

The defaults assume the sandbox shape (single JVM, ``local[N]`` over the
CPUs the process may use, a heap sized to the host's memory) but every
knob is the one you would set on a real 1000-executor cluster: AQE for
runtime re-planning and skew-join splitting, Arrow for the vectorized UDF
boundary, and a shuffle-partition count sized to the parallelism.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "resplit"]


def _host_cpus() -> int:
    """The CPUs this process may run on (what the JVM counts for ``local[*]``)."""
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    return _host_cpus()


def _task_slots(master: str) -> int | None:
    """Concurrent tasks of a local master: N for ``local[N]`` and
    ``local[N,F]``, the host's CPUs for ``local[*]``, 1 for ``local``;
    None for a cluster master, whose slots depend on its executors."""
    if master == "local":
        return 1
    if not master.startswith("local[") or not master.endswith("]"):
        return None
    threads = master[len("local["):-1].split(",")[0].strip()
    if threads == "*":
        return _host_cpus()
    return int(threads) if threads.isdigit() else None


def _default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else the smaller of 24g and half the
    physical memory (the Python workers and the OS need the rest)."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(24 << 10, physical_mb // 2)}m"


# a JVM option that selects (or deselects) a garbage collector
_GC_FLAG = re.compile(r"-XX:[+-]Use\w+GC\b")


def _conf(app_name: str, master: str, shuffle_partitions: int | None,
          extra_conf: dict | None) -> dict:
    """The conf ``get_spark`` starts its session with; ``extra_conf`` wins."""
    slots = _task_slots(master)
    if shuffle_partitions is None:
        # local → max(slots, 8); cluster → Spark's 200, AQE coalesces it
        shuffle_partitions = max(slots, 8) if slots else 200
    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.driver.memory": _default_driver_memory(),
        "spark.driver.maxResultSize": "4g",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # wide projections/aggregates must stay inside whole-stage
        # codegen; the default 100-field cap silently drops them to the
        # interpreted path (~6x slower measured at sf0.1)
        "spark.sql.codegen.maxFields": "256",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
    }
    if slots:
        # Keep at most one idle Python worker per task slot.  A stage with
        # two Arrow-UDF nodes per task (mask(transform(df)) in one stage)
        # forks two workers per slot; uncapped, Spark keeps all of them
        # until no Python task has started or ended for a minute.
        # perfbench `link` on 4 vCPUs, 11 alternating pairs, with match's
        # similarity UDF evaluated once (else its check stage re-forks the
        # freed workers): peak_rss_mb median 3,709 → 3,192 MB, Python
        # workers ~1,107 → ~594 MB, 10 → 6 processes, cpu_s flat.
        conf["spark.python.factory.idleWorkerMaxPoolSize"] = str(slots)
        # Fork every worker from a daemon that has already run the
        # package's worker set-up (pprl_spark/_daemon.py), so a worker
        # starts with numpy, pandas, pyarrow and pprl_spark loaded and
        # frozen instead of importing them (~0.5 CPU-s per worker).  Only
        # local masters: a cluster executor may get the package only
        # through --py-files, which a daemon cannot see when it starts.
        # Arrow's bundled jemalloc starts a background purge thread at
        # pyarrow import; a forked child runs without it anyway (jemalloc
        # turns background threads off in the child), so the daemon
        # starts none and forks with its main thread only.
        conf["spark.python.daemon.module"] = "pprl_spark._daemon"
        conf["spark.executorEnv.JE_ARROW_MALLOC_CONF"] = "background_thread:false"
        # The one local JVM is driver and executor of a batch engine with
        # no pause-time target, so it runs the throughput collector: G1's
        # remembered sets and region bookkeeping are the largest non-heap
        # item we can drop (native-memory tracking, 2g heap: 125 → 93 MB
        # committed under GC).  perfbench `profile` on 4 vCPUs, 10
        # alternating pairs: peak_rss_mb median 3,043 → 2,960 MB, all of it
        # the JVM's, cpu_s flat or lower.  A JVM given two collectors
        # refuses to start, so a caller whose extraJavaOptions pick one gets
        # only theirs (a caller's defaultJavaOptions replace ours like any
        # extra_conf key).
        if not _GC_FLAG.search((extra_conf or {}).get("spark.driver.extraJavaOptions", "")):
            conf["spark.driver.defaultJavaOptions"] = "-XX:+UseParallelGC"
    # Spark keeps one Python worker pool per (exec, module, env vars).  The
    # SQL runners (Arrow UDFs, mapInPandas, applyInPandas) add
    # SPARK_SIMPLIFIED_TRACEBACK=1 while its conf is on (the default);
    # PythonRDD functions (createDataFrame of a local list, rdd.map) get
    # only SparkContext.environment, where executorEnv lands, so the first
    # RDD job forked a second daemon with its own worker per slot.  Giving
    # them the same env keeps one pool.  The conf's effective value (from
    # extra_conf, spark-defaults.conf or spark-submit --conf) is known only
    # once the context is up, so a session that turns it off drops the
    # variable again; flipping it later (spark.conf.set) splits the pools.
    # perfbench `profile` on 4 vCPUs (its check table is a createDataFrame),
    # 10 alternating pairs: peak_rss_mb median 3,415 → 3,121 MB, Python
    # workers ~870 → ~575 MB, 11 → 6 processes, cpu_s flat.
    conf["spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK"] = "1"
    conf.update(extra_conf or {})
    return conf


def _package_root() -> str:
    """The directory or zip this package was imported from."""
    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(
    app_name: str = "pprl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A session with the package's defaults (see ``_conf``); ``master``
    defaults to ``local[<CPUs>]``, and every ``extra_conf`` key wins.

    A local master's JVM runs the parallel (throughput) collector,
    ``-XX:+UseParallelGC`` in ``spark.driver.defaultJavaOptions``.  To
    run another, name it in ``extra_conf``'s
    ``spark.driver.extraJavaOptions`` (e.g. ``-XX:+UseG1GC``) or replace
    ``spark.driver.defaultJavaOptions`` there.  A collector set anywhere
    else (``spark-defaults.conf``, spark-submit's ``--driver-java-options``
    or ``SPARK_SUBMIT_OPTS``) must come through ``extra_conf`` instead: a
    JVM given two collectors does not start, and ours replaces
    ``spark-defaults.conf``'s ``spark.driver.defaultJavaOptions``."""
    master = master or f"local[{_default_cpus()}]"
    builder = SparkSession.builder
    for key, value in _conf(app_name, master, shuffle_partitions, extra_conf).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    env = spark.sparkContext.environment
    if _task_slots(master):
        # The daemon and the workers import the package the driver did,
        # wherever the driver runs from: Spark puts executorEnv's
        # PYTHONPATH (caller entries kept, from any conf source) on theirs.
        root = _package_root()
        paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        if root not in paths:
            env["PYTHONPATH"] = os.pathsep.join([root, *paths])
    simplified = spark.conf.get("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "true")
    if simplified.strip().lower() != "true":
        env.pop("SPARK_SIMPLIFIED_TRACEBACK", None)
    return spark


# an exchange node in a physical plan's tree string ("Exchange
# hashpartitioning(...)", "BroadcastExchange HashedRelationBroadcastMode(...)");
# node names start their line, expressions follow them
_EXCHANGE = re.compile(r"^[ :+|-]*(?:Broadcast)?Exchange\b", re.M)


def resplit(df: DataFrame, floor: int | None = None) -> DataFrame:
    """Round-robin ``df`` up to ``floor`` partitions (default
    ``defaultParallelism``) ONLY when it has fewer: a small parquet table
    lands in 1-4 scan splits, which would serialize the expensive map-side
    work that follows (explode, md5, Arrow UDFs) on a few cores.  At
    production split counts this is a no-op; an unconditional repartition
    would add a full-corpus shuffle and coalesce DOWN.

    A plan with an exchange is returned unchanged, unprobed: under AQE,
    ``df.rdd`` over an exchange runs the stages below it when the query
    is built.  A shuffled plan's partition count is its shuffle's; a
    broadcast join keeps its stream side's, so resplit that side before
    the join.  Probing an exchange-free plan starts no job."""
    if _EXCHANGE.search(df._jdf.queryExecution().executedPlan().toString()):
        return df
    if floor is None:
        floor = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < floor:
        return df.repartition(floor)
    return df
