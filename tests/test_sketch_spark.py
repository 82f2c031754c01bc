"""Spark two-phase sketch aggregation: partition invariance (north_rule
merge-associativity gate), accuracy vs exact answers, and cross-checks
against Spark's own approximate built-ins."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pprl_spark.sketch import CountMinSketch, HyperLogLog, KLLSketch, TDigest, deserialize
from pprl_spark.sketch.spark_agg import sketch_column, sketch_grouped


@pytest.fixture(scope="module")
def docs_df(spark):
    # deterministic skewed table: 10k rows, 1.2k distinct urls, lang 60% 'en'
    rows = []
    langs = ["en", "de", "fr", "es", "pt", "it", "nl", "sv"]
    for i in range(10_000):
        url = f"https://site-{i % 1200:04d}.example/{i % 2400:06d}"
        lang = "en" if i % 5 < 3 else langs[i % 8]
        rows.append((url, lang, float((i * 37) % 1000)))
    return spark.createDataFrame(rows, "url string, lang string, score double").cache()


def test_hll_distinct_urls(spark, docs_df):
    exact = docs_df.select("url").distinct().count()
    sk = sketch_column(docs_df, "url", lambda: HyperLogLog(p=14))
    sigma = 1.04 / math.sqrt(1 << 14)
    assert abs(sk.estimate() - exact) / exact <= 3 * sigma


@pytest.mark.parametrize("parts", [1, 2, 7, 32])
def test_hll_state_invariant_under_repartition(spark, docs_df, parts):
    base = sketch_column(docs_df.repartition(1), "url", lambda: HyperLogLog(p=12))
    repart = sketch_column(docs_df.repartition(parts), "url", lambda: HyperLogLog(p=12))
    assert base.serialize() == repart.serialize()


def test_hll_matches_spark_builtin_ballpark(spark, docs_df):
    builtin = docs_df.agg(F.approx_count_distinct("url").alias("d")).collect()[0]["d"]
    ours = sketch_column(docs_df, "url", lambda: HyperLogLog(p=14)).estimate()
    exact = docs_df.select("url").distinct().count()
    assert abs(ours - exact) / exact < 0.05
    assert abs(builtin - exact) / exact < 0.10  # sanity on the cross-check itself


def test_cms_frequencies(spark, docs_df):
    sk = sketch_column(docs_df, "lang", lambda: CountMinSketch(width=2719, depth=5))
    exact = {r["lang"]: r["cnt"] for r in docs_df.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # point queries need the same hash as the Spark-side xxhash64
    hashes = {
        r["lang"]: r["h"]
        for r in docs_df.select("lang").distinct().select("lang", F.xxhash64("lang").alias("h")).collect()
    }
    n = sum(exact.values())
    for lang, cnt in exact.items():
        est = int(sk.estimate([hashes[lang]])[0])
        assert est >= cnt
        assert est - cnt <= sk.epsilon * n


@pytest.mark.parametrize("parts", [2, 7, 32])
def test_cms_state_invariant_under_repartition(spark, docs_df, parts):
    base = sketch_column(docs_df.repartition(1), "lang", lambda: CountMinSketch(256, 4))
    repart = sketch_column(docs_df.repartition(parts), "lang", lambda: CountMinSketch(256, 4))
    assert base.serialize() == repart.serialize()


def test_kll_quantiles_on_scores(spark, docs_df):
    sk = sketch_column(docs_df, "score", lambda: KLLSketch(k=200))
    exact = sorted(r["score"] for r in docs_df.select("score").collect())
    n = len(exact)
    import numpy as np

    for q in (0.1, 0.5, 0.9):
        est = sk.quantile(q)
        true_rank = np.searchsorted(exact, est) / n
        assert abs(true_rank - q) <= 4 * sk.epsilon


def test_tdigest_vs_spark_percentile(spark, docs_df):
    sk = sketch_column(docs_df, "score", lambda: TDigest(compression=100))
    spark_p = docs_df.agg(
        F.expr("percentile_approx(score, array(0.5, 0.99))").alias("p")
    ).collect()[0]["p"]
    assert abs(sk.quantile(0.5) - spark_p[0]) <= 30  # same ballpark on 0..1000 scores
    assert abs(sk.quantile(0.99) - spark_p[1]) <= 30


def test_grouped_hll_by_lang(spark, docs_df):
    out = sketch_grouped(docs_df, ["lang"], "url", lambda: HyperLogLog(p=12),
                         estimate_name="distinct_urls")
    got = {r["lang"]: r for r in out.collect()}
    exact = {
        r["lang"]: r["d"]
        for r in docs_df.groupBy("lang").agg(F.countDistinct("url").alias("d")).collect()
    }
    assert set(got) == set(exact)
    sigma = 1.04 / math.sqrt(1 << 12)
    for lang, row in got.items():
        assert abs(row["distinct_urls"] - exact[lang]) / exact[lang] <= 3 * sigma
        # state round-trips and re-estimates identically
        clone = deserialize(bytes(row["state"]))
        assert clone.estimate() == pytest.approx(row["distinct_urls"])


def test_grouped_states_mergeable_to_global(spark, docs_df):
    """Rollup property: merging per-lang states equals the global sketch —
    the cube/rollup use case for mergeable sketches."""
    out = sketch_grouped(docs_df, ["lang"], "url", lambda: HyperLogLog(p=12)).collect()
    merged = None
    for row in out:
        sk = deserialize(bytes(row["state"]))
        merged = sk if merged is None else merged.merge(sk)
    global_sk = sketch_column(docs_df, "url", lambda: HyperLogLog(p=12))
    assert merged.serialize() == global_sk.serialize()


def test_frequent_items_grouped(spark):
    """Grouped MG aggregation: per-language frequent event... er,
    per-lang frequent doc-fingerprint is meaningless at exact-regime
    scale, so use events grouped by event_type -> frequent user buckets;
    assert state decodes and bounds hold vs exact."""
    import pyspark.sql.functions as SF

    from pprl_spark.sketch import FrequentItemsSketch, deserialize, sketch_grouped

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type", (SF.col("user_id") % 7).cast("string").alias("bucket")
    )
    out = sketch_grouped(
        ev, ["event_type"], "bucket", lambda: FrequentItemsSketch(capacity=16)
    ).collect()
    exact = {
        (r["event_type"], r["bucket"]): r["n"]
        for r in ev.groupBy("event_type", "bucket").agg(SF.count("*").alias("n")).collect()
    }
    assert out
    for row in out:
        sk = deserialize(bytes(row["state"]))
        assert sk.offset == 0  # 7 buckets < capacity 16: exact regime
        for item, lo, hi in sk.estimate():
            assert lo == exact[(row["event_type"], item)]
        import math
        est = row["estimate"]  # list-estimate sketches emit NaN/NULL
        assert est is None or math.isnan(est)


def test_profile_column_one_scan_matches_per_sketch(spark):
    """Each sketch of a one-scan profile equals the same sketch built in
    this process from the collected input column (xxhash64 / string /
    double): byte-equal HLL and CMS states, exact MG counts, and a KLL
    large enough to hold every value answers every quantile exactly."""
    from collections import Counter

    from pprl_spark.sketch import FrequentItemsSketch, profile_column

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = profile_column(
        ev,
        "event_type",
        {
            "hll": lambda: HyperLogLog(p=12),
            "cms": lambda: CountMinSketch(width=2719, depth=5),
            "mg": lambda: FrequentItemsSketch(capacity=16),
        },
    )
    rows = ev.where(F.col("event_type").isNotNull()).select(
        F.xxhash64("event_type").alias("h"), "event_type"
    ).collect()
    hashes = np.array([r["h"] for r in rows], dtype=np.int64)
    hll, cms = HyperLogLog(p=12), CountMinSketch(width=2719, depth=5)
    hll.update(hashes)
    cms.update(hashes)
    assert out["hll"].serialize() == hll.serialize()
    assert out["cms"].serialize() == cms.serialize()
    exact = Counter(r["event_type"] for r in rows)
    assert out["mg"].offset == 0  # 5 event types < capacity 16: exact regime
    assert {i: lo for i, lo, _ in out["mg"].estimate()} == exact

    # rank sketch lane: the double cast of a numeric column
    kll = profile_column(ev, "value", {"kll": lambda: KLLSketch(k=4096)})["kll"]
    values = [r["value"] for r in ev.where(F.col("value").isNotNull()).select("value").collect()]
    ref = KLLSketch(k=4096)
    ref.update(np.array(values, dtype=np.float64))
    assert kll.n == ref.n == len(values)
    for q in (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0):
        assert kll.quantile(q) == ref.quantile(q)


def test_grouped_hll_states_match_in_process_sketches(spark):
    """sketch_grouped's per-group HLL state equals the HLL built in this
    process from that group's xxhash64 values (a long column: the hash is
    of the value itself, not of its string form)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = sketch_grouped(ev, ["event_type"], "user_id", lambda: HyperLogLog(p=12)).collect()
    rows = ev.where(F.col("user_id").isNotNull()).select(
        "event_type", F.xxhash64("user_id").alias("h")
    ).collect()
    assert len(out) == len({r["event_type"] for r in rows})
    for row in out:
        ref = HyperLogLog(p=12)
        ref.update(np.array([r["h"] for r in rows if r["event_type"] == row["event_type"]],
                            dtype=np.int64))
        assert bytes(row["state"]) == ref.serialize()


class _UnknownInputSketch(HyperLogLog):
    INPUT = "bits"


def test_unknown_sketch_input_kind_raises(spark, docs_df):
    """Every entry point rejects an INPUT kind outside hash/raw/value
    instead of silently casting the column to double."""
    from pprl_spark.sketch import spark_agg

    calls = [
        lambda: spark_agg.sketch_column(docs_df, "url", _UnknownInputSketch),
        lambda: spark_agg.sketch_column_with_exact(docs_df, "url", _UnknownInputSketch),
        lambda: spark_agg.prepare_input(docs_df, "url", _UnknownInputSketch),
        lambda: spark_agg.profile_column(
            docs_df, "url", {"hll": HyperLogLog, "odd": _UnknownInputSketch}),
        lambda: spark_agg.sketch_grouped(docs_df, ["lang"], "url", _UnknownInputSketch),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="INPUT is 'bits'"):
            call()


def test_frequent_items_tidy_relation(spark):
    import pyspark.sql.functions as SF

    from pprl_spark.sketch import frequent_items

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = frequent_items(ev, ["event_type"], "user_id", capacity=2048).collect()
    exact = {
        (r["event_type"], str(r["user_id"])): r["n"]
        for r in ev.groupBy("event_type", "user_id").agg(SF.count("*").alias("n")).collect()
    }
    n_users = ev.select("user_id").distinct().count()
    assert n_users <= 2048  # exact regime at sf0.001 (150 users)
    got = {(r["event_type"], r["item"]): r["count_lower"] for r in out}
    assert got == exact
    for r in out:
        assert r["count_lower"] == r["count_upper"]  # offset 0
    top = frequent_items(ev, ["event_type"], "user_id", capacity=2048, top_k=3)
    counts = top.groupBy("event_type").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_grouped_tdigest_small_groups_merge_sorted(spark):
    """Groups small enough that their merged partials fit the compression
    budget: each group's merged t-digest keeps its centroids sorted, so
    its extremes and median are the group's own."""
    rows = [(g, float(v)) for g in range(5) for v in range(g * 100, g * 100 + 40)]
    df = spark.createDataFrame(rows, "g int, v double").repartition(4)
    out = sketch_grouped(df, ["g"], "v", lambda: TDigest(compression=100)).collect()
    assert len(out) == 5
    for row in out:
        sk = deserialize(bytes(row["state"]))
        lo = row["g"] * 100
        assert np.all(np.diff(sk.means) >= 0)
        assert sk.quantile(0.0) == lo and sk.quantile(1.0) == lo + 39
        assert abs(row["estimate"] - (lo + 19.5)) <= 1.0
