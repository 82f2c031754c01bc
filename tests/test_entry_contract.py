"""Driver-contract tests: entry() smoke, flagship LSH recall vs the
crosswise oracle on real testdata, queries()/oracle_sql() key alignment."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF1 = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"domain_id", "range_id", "similarity"}


def test_flagship_lsh_recall_equals_crosswise_on_testdata(spark):
    """BASELINE.md: LSH blocking must not lose matches the crosswise
    matcher finds at the same threshold."""
    from pprl_spark.config import (
        CLKFilter,
        HashConfig,
        HashFunctionConfig,
        MaskConfig,
        MatchConfig,
    )
    from pprl_spark.spark.mask import mask
    from pprl_spark.spark.match import match_crosswise

    docs = spark.read.parquet(f"{SF1}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    cfg = MaskConfig(
        filter=CLKFilter(1024, 3),
        hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
        token_size=4,
        padding="_",
        prepend_attribute_name=False,
    )
    enc = mask(docs, cfg, ["text"]).cache()
    oracle = {
        (r["domain_id"], r["range_id"]): r["similarity"]
        for r in match_crosswise(enc, enc, MatchConfig("dice", 0.85)).collect()
        if r["domain_id"] < r["range_id"]
    }
    got = {
        (r["domain_id"], r["range_id"]): r["similarity"]
        for r in E._flagship_matches(spark, SF1).collect()
    }
    assert oracle, "oracle found no pairs — fixture assumption broken"
    missing = set(oracle) - set(got)
    assert not missing, f"LSH lost {len(missing)}/{len(oracle)} crosswise matches"
    extra = set(got) - set(oracle)
    assert not extra, f"LSH produced pairs crosswise rejects: {list(extra)[:5]}"
    for key, sim in got.items():
        assert sim == pytest.approx(oracle[key])


def test_oracle_keys_subset_of_queries():
    q = set(E.queries())
    o = set(E.oracle_sql())
    assert o <= q, f"oracle-only keys: {o - q}"
    # every oracle-less query is a documented non-SQL-expressible op
    rows_only = q - o
    assert all(
        any(tag in name for tag in ("hll", "cms", "kll", "tdigest", "bloom",
                                    "pprl", "minhash", "simhash", "langid",
                                    "ann", "multimodal"))
        for name in rows_only
    ), f"unexplained rows-only queries: {rows_only}"


def test_queries_runnable_at_sf0001(spark):
    """Every query must at least execute and return a stable schema at the
    smallest scale (the driver smoke check shape)."""
    for name, fn in E.queries().items():
        df = fn(spark, SF1)
        assert df.columns, f"{name} returned no columns"
        df.limit(5).collect()


# queries whose build starts Spark jobs beyond the parquet schema reads,
# and why; every other query must start none
BUILD_JOBS_ALLOWED = {
    "hll_distinct_users": "sketch states are merged on the driver",
    "theta_user_overlap": "sketch states are merged on the driver",
    "cms_event_type_counts": "sketch states are merged on the driver",
    "quantile_sketches": "sketch states are merged on the driver",
    "bloom_customer_membership": "sketch states are merged on the driver",
    "ann_topk": "the IVF build checks for empty centroids",
    "documents_split": "chunk offsets are a driver-side prefix sum",
    "dedup_components": "connected components runs its rounds eagerly",
    "lm_perplexity": "the counts checkpoint measured faster than reused exchanges",
    "fingerprint_jaccard": "the token checkpoint measured faster than a keyed repartition",
}


def test_building_a_query_starts_only_parquet_schema_reads(spark):
    """Building each query's DataFrame, with no action on it, starts no
    Spark job other than a parquet schema read, except for the listed
    queries, which each still need one."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name, fn in E.queries().items():
            sc.setJobGroup(f"build:{name}", name)
            fn(spark, SF1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    started = {}
    for name in E.queries():
        stages = [
            tracker.getStageInfo(s).name
            for j in tracker.getJobIdsForGroup(f"build:{name}")
            for s in tracker.getJobInfo(j).stageIds
        ]
        other = [s for s in stages if not s.startswith("parquet at ")]
        if other:
            started[name] = other
    assert set(started) == set(BUILD_JOBS_ALLOWED), {
        q: started.get(q) for q in set(started) ^ set(BUILD_JOBS_ALLOWED)
    }
