"""The small-scan resplit guard shared by every map-heavy operator."""

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
