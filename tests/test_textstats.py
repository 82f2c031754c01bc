"""Text-statistics operators (``pprl_spark.spark.textstats``)."""

import math

import pytest


def test_bm25_scores_pools_shared_ids_and_skips_wordless_documents(spark):
    """Rows that share an id pool their words, documents with no words
    (NULL, empty or whitespace-only text) stay out of N and avgdl, a
    repeated query term counts once, and an empty query gives no rows."""
    from pprl_spark.spark.textstats import bm25_scores

    df = spark.createDataFrame(
        [(1, "x y"), (1, "x"), (2, "y z z"), (3, None), (4, ""), (5, " \t ")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, ["x", "z", "x"]).collect()}
    n_docs, avgdl = 2, 3.0  # doc 1 is "x y x", doc 2 "y z z"

    def score(tf, dfq, dl):
        idf = math.log(1 + (n_docs - dfq + 0.5) / (dfq + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert got == pytest.approx({1: score(2, 1, 3), 2: score(2, 1, 3)})
    assert bm25_scores(df, []).collect() == []


def test_words_equals_the_filter_lambda_split_and_stays_lambda_free(spark):
    """``words`` is ``array_remove(split(col, '\\s+'), '')``: on sf0.01
    ``documents`` (plus NULL, empty, whitespace-only, padded and
    no-break-space texts) every document gets the same word array as the
    former ``filter(split(col, '\\s+'), w -> w != '')``, and a ``words``
    projection's optimized plan has no lambda function, so it stays in
    whole-stage codegen."""
    from pyspark.sql import functions as F

    from pprl_spark.spark.textstats import words

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
    edges = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, " \t\n "), (-4, "  a  b\tc \n"), (-5, "x\xa0y z")],
        "doc_id long, text string",
    )
    both = docs.unionByName(edges).select(
        "doc_id",
        words("text").alias("got"),
        F.filter(F.split("text", r"\s+"), lambda w: w != "").alias("want"),
    )
    assert both.count() == docs.count() + 5
    assert both.where(~F.col("got").eqNullSafe(F.col("want"))).count() == 0
    got = {r.doc_id: r.got for r in both.where("doc_id < 0").collect()}
    assert got == {-1: None, -2: [], -3: [], -4: ["a", "b", "c"], -5: ["x\xa0y", "z"]}

    plan = docs.select(words("text"))._jdf.queryExecution().optimizedPlan().toString()
    assert "array_remove" in plan and "lambdafunction" not in plan, plan
