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
