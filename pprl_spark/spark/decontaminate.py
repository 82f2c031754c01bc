"""Benchmark decontamination: flag training documents that overlap an
evaluation set.

The standard contamination rule (GPT-3 appx. C; PaLM; Llama): a training
document is contaminated if it shares at least one word n-gram (n ≈ 8-13)
with any benchmark document — long n-grams make coincidental collisions
essentially impossible, so a single hit is evidence of copied text.

Spark shape, built for a 100 TB training side vs a small-to-medium eval
side:

1. Both sides explode to (id, xxhash64(n-gram)) rows — the n-gram STRINGS
   never shuffle, only 8-byte hashes.
2. Eval n-grams are deduplicated (tiny: benchmarks are MBs) and the join
   is hash-keyed; with a small eval set Spark broadcasts it, so the
   training side is a map-side semi-join — no shuffle of the corpus at
   all.  ``F.broadcast`` is applied whenever the eval side fits the
   caller's ``broadcast_eval`` flag (default True).
3. Per-document hit counts aggregate on the (uniform) doc id.

Output: every training id with ``n_gram_hits`` (distinct overlapping
n-grams) and ``contaminated`` (hits ≥ min_hits).  Documents shorter than
n words have zero n-grams and are clean by definition.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import _JAVA_WS, bind_once, words

__all__ = [
    "word_ngram_hashes",
    "word_ngrams",
    "contamination_report",
    "decontaminate",
    "eval_gram_set",
    "streaming_contamination_hits",
    "streaming_decontaminate",
]


def word_ngram_hashes(col: Column | str, n: int = 13) -> Column:
    """array<long>: xxhash64 of each word ``n``-gram (space-joined,
    lowercased) — [] for documents with fewer than ``n`` words."""
    col = F.col(col) if isinstance(col, str) else col

    def _windows(w: Column) -> Column:
        # w binds the split array ONCE per row (textstats.bind_once);
        # as a free subtree it would be re-split at every window —
        # O(words²) per document (the quality.py r5 lesson)
        k = F.size(w)
        return F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - (n - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i, n))),
            ),
        ).otherwise(F.array().cast("array<long>"))

    return bind_once(words(F.lower(col)), _windows)


def contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(id, n_gram_hits, contaminated) for EVERY training document.

    ``eval_df`` needs only ``text_col``.  ``n_gram_hits`` counts DISTINCT
    overlapping n-grams (a benchmark sentence repeated through the corpus
    still counts once per document)."""
    # per-row distinct (each document is one row, so array_distinct ≡ the
    # old dropDuplicates([id, gram]) but without its full (id, hash)
    # shuffle — linear, map-side; see dedup.qgram_raw_windows r5 note)
    train_grams = train_df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngram_hashes(F.col(text_col), n))).alias(
            "__g"
        ),
    )
    eval_grams = eval_df.select(
        F.explode(word_ngram_hashes(F.col(text_col), n)).alias("__g")
    ).distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    hits = (
        train_grams.join(eval_grams, "__g", "leftsemi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_gram_hits"))
    )
    ids = train_df.select(id_col)
    return ids.join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_gram_hits", F.lit(0)).alias("n_gram_hits"),
        (F.coalesce("n_gram_hits", F.lit(0)) >= min_hits).alias("contaminated"),
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Training rows with contaminated documents REMOVED (anti-join on
    the contamination report — the write-side convenience wrapper)."""
    bad = contamination_report(
        train_df, eval_df, id_col, text_col, n, min_hits, broadcast_eval
    ).where(F.col("contaminated")).select(id_col)
    return train_df.join(bad, id_col, "left_anti")


# ------------------------------------------------------------- streaming

def word_ngrams(col: Column | str, n: int = 13) -> Column:
    """array<string>: each word ``n``-gram (space-joined, lowercased) —
    [] for documents with fewer than ``n`` words.  The string twin of
    :func:`word_ngram_hashes` (which hashes map-side so gram strings
    never shuffle); this form exists for consumers that need the gram
    VALUES, like the streaming broadcast set."""
    col = F.col(col) if isinstance(col, str) else col

    def _windows(w: Column) -> Column:
        k = F.size(w)
        return F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(words(F.lower(col)), _windows)


def eval_gram_set(eval_df: DataFrame, text_col: str = "text", n: int = 13):
    """Distinct eval-side n-gram STRINGS as a driver-side frozenset — the
    broadcast payload for the streaming filter.  Eval sets are small by
    this operator's contract (benchmarks are MBs; grams are deduplicated
    on the executors first), so this is the one place a ``collect()`` is
    the RIGHT scale call — the training side never leaves the cluster.

    Strings, not hashes: the streaming membership test runs in a pandas
    UDF, and a ``bind_once``-shaped Catalyst argument (nested lambdas
    capturing an outer lambda variable) breaks Python-UDF extraction in
    streaming plans (r5, measured: [INTERNAL_ERROR] Cannot evaluate
    PythonUDF) — so the stream side tokenizes in Python and needs the
    gram values, not Spark-side xxhash64 values."""
    rows = (
        eval_df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("__g"))
        .distinct()
        .collect()
    )
    return frozenset(r["__g"] for r in rows)


def streaming_contamination_hits(
    text_col: Column | str, gram_set, spark, n: int = 13
) -> Column:
    """``n_gram_hits`` as a STATELESS column over a streaming frame: one
    Arrow-vectorized UDF takes the raw text (a plain attribute — no
    higher-order-function argument, see :func:`eval_gram_set`), splits
    with the Java ``\\s+`` (ASCII) convention mirroring the batch
    tokenizer, and counts distinct n-grams present in the broadcast eval
    set.  No explode, no state store, no stream-static join — the stream
    plan stays a projection, exactly like ``streaming_quality_filter``.
    Decision-identical to the batch ``contamination_report`` (string
    membership vs its 64-bit-hash semi-join differs only on xxhash64
    collisions, ~|grams|²/2⁶⁵).

    Convention caveat: lowercasing here is Python ``str.lower`` vs the
    batch path's JVM ``lower()`` — identical for ASCII and the vast
    majority of Unicode, but a handful of locale-sensitive code points
    (e.g. ``İ``) case-fold differently across the two runtimes, so
    decisions on such text may differ; both sides of THIS stream path
    (:func:`eval_gram_set` tokenizes JVM-side, the UDF Python-side) can
    disagree only on those code points."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    bc = spark.sparkContext.broadcast(frozenset(gram_set))

    @F.pandas_udf("long")
    def _hits(texts: pd.Series) -> pd.Series:
        s = bc.value

        def one(t) -> int:
            # the batch path's words(lower(text)) split, in Python
            ws = [w for w in _JAVA_WS.split((t or "").lower()) if w]
            if len(ws) < n:
                return 0
            seen = set()
            for i in range(len(ws) - n + 1):
                g = " ".join(ws[i : i + n])
                if g in s:
                    seen.add(g)
            return len(seen)

        return texts.map(one).astype("int64")

    return _hits(col)


def streaming_decontaminate(
    stream_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Streaming rows with contaminated documents REMOVED — the
    ingest-time counterpart of :func:`decontaminate` for the streaming
    curation graph (filter → decontaminate → dedup → encode).  The eval
    set is resolved ONCE at stream-build time (static benchmarks); to
    pick up a changed benchmark set, restart the stream."""
    if not stream_df.isStreaming:
        raise ValueError("streaming_decontaminate expects a streaming DataFrame")
    grams = eval_gram_set(eval_df, text_col, n)
    hits = streaming_contamination_hits(
        F.col(text_col), grams, stream_df.sparkSession, n
    )
    return stream_df.withColumn("__hits", hits).where(
        F.col("__hits") < min_hits
    ).drop("__hits")
