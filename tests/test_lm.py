"""Stupid Backoff LM: the row-at-a-time streaming scorer against the
batch scorer."""

import pytest


def test_score_text_local_splits_words_like_the_batch_scorer(spark):
    """Java's ``\\s`` is ASCII-only: a no-break or em space joins two
    words in the batch scorer, so the streaming scorer must not split on
    it either (``str.split()`` does)."""
    from pprl_spark.spark.lm import (
        counts_to_local,
        score_documents,
        score_text_local,
        train_stupid_backoff,
    )

    train = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the log")],
        "doc_id long, text string",
    )
    texts = ["the cat\xa0sat on the log", "the dog\u2003sat"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    counts = train_stupid_backoff(train)
    batch = {r["doc_id"]: r for r in score_documents(docs, counts).collect()}
    local = counts_to_local(counts)
    assert [batch[i]["n_tokens"] for i in range(2)] == [5, 2]
    for i, text in enumerate(texts):
        n, avg, ppl = score_text_local(local, text)
        assert n == batch[i]["n_tokens"]
        assert avg == pytest.approx(batch[i]["avg_logprob"], rel=1e-12)
        assert ppl == pytest.approx(batch[i]["perplexity"], rel=1e-12)
