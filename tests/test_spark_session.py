"""The session builder's defaults and the small-scan resplit guard shared
by every map-heavy operator."""

import os

from pprl_spark.spark import session as S
from pprl_spark.spark.session import resplit

SF = "/root/testdata/sf0.001"


def test_resplit_repartitions_only_scans_below_the_floor(spark):
    parallelism = spark.sparkContext.defaultParallelism
    scan = spark.read.parquet(f"{SF}/documents.parquet")
    assert scan.rdd.getNumPartitions() == 1
    assert resplit(scan).rdd.getNumPartitions() == parallelism
    floor = max(parallelism, 8)
    assert resplit(scan, floor).rdd.getNumPartitions() == floor

    wide = spark.range(0, 1000, numPartitions=parallelism)
    assert resplit(wide) is wide
    wider = spark.range(0, 1000, numPartitions=floor)
    assert resplit(wider, floor) is wider


def test_get_spark_defaults_fit_the_host(monkeypatch):
    """Without overrides, ``local[N]`` takes the CPUs the process may run
    on and the driver heap the smaller of 24g and half the physical
    memory; ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` still win."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert S._default_cpus() == len(os.sched_getaffinity(0))
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert S._default_driver_memory() == f"{min(24 << 10, physical_mb // 2)}m"

    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(S.os, "sysconf", lambda name: pages[name])
    pages["SC_PHYS_PAGES"] = (15 << 30) // 4096  # a 15 GiB host
    assert S._default_driver_memory() == "7680m"
    pages["SC_PHYS_PAGES"] = (256 << 30) // 4096  # a 256 GiB host
    assert S._default_driver_memory() == "24576m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert S._default_cpus() == 3
    assert S._default_driver_memory() == "5g"
