"""Text-analysis operators for training-data pipelines.

Everything — token counting, quality scoring, fingerprinting, and the
stopword-profile language-ID — is pure Catalyst column expressions (JVM,
whole-stage-friendly, DuckDB-oracle-expressible).  No Python workers in
any of these paths.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .session import resplit

__all__ = [
    "words",
    "whitespace_token_count",
    "bpe_ish_token_count",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "content_fingerprint",
    "rolling_fingerprints",
    "lang_id_col",
    "with_text_stats",
    "tf_idf_terms",
    "bm25_scores",
]

# A BPE-ish pre-tokenization: word pieces, numbers, and single punctuation
# marks (GPT-2-style pre-tokenizer shape, simplified to a portable regex).
_BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

_STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "de", "et", "des", "est", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "es", "por", "para"],
    "pt": ["o", "a", "os", "de", "que", "e", "em", "é", "por", "para"],
    "it": ["il", "la", "di", "che", "e", "in", "è", "per", "con", "non"],
    "nl": ["de", "het", "een", "van", "en", "is", "dat", "op", "te", "voor"],
    "sv": ["och", "att", "det", "som", "en", "är", "av", "för", "på", "med"],
}

ALL_STOPWORDS = sorted({w for ws in _STOPWORDS.values() for w in ws})


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable.  Higher-order functions are CodegenFallback: a free
    subtree (e.g. split+filter) referenced N times inside one expression
    — including once per element of a ``transform`` window loop — is
    re-evaluated interpreted each time, turning window construction
    quadratic.  Wrapping the subtree in a one-element array and
    referencing the ``transform`` lambda variable makes every reference a
    variable read (r5: cut the quality_filter plan from 42 ``split(``
    nodes to 7 and the n-gram explode child from O(lanes·words²) to
    O(lanes·words))."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def words(col: Column | str) -> Column:
    """array<string>: the whitespace words of ``col`` — Java-regex
    ``\\s+`` split (ASCII whitespace only), empty strings dropped.  Every
    word-level signal tokenizes through this one expression (callers that
    case-fold pass ``F.lower(col)``); Python UDFs that must agree with it
    split with :data:`_JAVA_WS`.  ``array_remove`` rather than a
    ``filter`` lambda: a higher-order function keeps its projection out
    of whole-stage codegen."""
    return F.array_remove(F.split(_as_col(col), r"\s+"), "")


# ``words`` in Python: Java regex \s is ASCII-only ([ \t\n\x0b\f\r]),
# while str.split() also splits on Unicode whitespace (\xa0, \u2003, ...)
# and would flip UDF decisions against the Catalyst signals
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def whitespace_token_count(col: Column | str) -> Column:
    return F.size(words(col)).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Count of BPE-ish pre-tokens via regexp_count — JVM-side."""
    return F.regexp_count(_as_col(col), F.lit(_BPE_ISH)).cast("long")


def punct_ratio(col: Column | str) -> Column:
    col = _as_col(col)
    return (
        F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]"))
        / F.greatest(F.length(col), F.lit(1))
    ).cast("double")


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of whitespace tokens that are (any-language) stopwords."""
    sw = F.array(*[F.lit(w) for w in ALL_STOPWORDS])
    return bind_once(
        words(F.lower(_as_col(col))),
        lambda ws: (
            F.size(F.filter(ws, lambda w: F.array_contains(sw, w)))
            / F.greatest(F.size(ws), F.lit(1))
        ).cast("double"),
    )


def quality_score(
    col: Column | str,
    n_words: Column | None = None,
    punct: Column | None = None,
) -> Column:
    """Heuristic document quality in [0,1]: length band + moderate
    punctuation + mean word length band.  Deliberately simple, fully
    SQL-expressible (oracle-checkable).

    ``n_words`` / ``punct`` may be supplied when the caller already has
    the whitespace token count / punctuation ratio (e.g. a fused signal
    struct sharing one split — quality._scalar_signals — or a projection
    that also outputs them); they must equal
    :func:`whitespace_token_count` / :func:`punct_ratio` of the same
    column.  Passing them avoids re-running the split / regexp_count,
    which CollapseProject would otherwise inline once per use."""
    col = _as_col(col)
    n_chars = F.length(col)
    if n_words is None:
        n_words = whitespace_token_count(col)
    if punct is None:
        punct = punct_ratio(col)
    mean_word = n_chars / F.greatest(n_words, F.lit(1))
    len_ok = F.when((n_chars >= 20) & (n_chars <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    word_ok = F.when((mean_word >= 2.5) & (mean_word <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return ((len_ok + punct_ok + word_ok) / F.lit(3.0)).cast("double")


def content_fingerprint(col: Column | str) -> Column:
    """64-bit whole-document fingerprint of whitespace-normalized text."""
    normalized = F.concat_ws(" ", words(col))
    return F.xxhash64(normalized)


def rolling_fingerprints(col: Column | str, window: int = 4) -> Column:
    """array<long> Rabin–Karp-style rolling fingerprints over word
    ``window``-grams (shingle fingerprints for containment detection) —
    pure Catalyst: slide over the word array and hash each window."""

    def _windows(ws: Column) -> Column:
        # ws binds the split array once per row (see bind_once) — as a
        # free subtree it would be re-split at every window (O(words²))
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(ws) - (window - 1), F.lit(1))
        )
        return F.transform(
            starts, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(ws, i, window)))
        )

    return bind_once(words(col), _windows)


def lang_id_col(col: Column | str) -> Column:
    """Heuristic language-ID as a pure Catalyst expression (no Python
    worker, DuckDB-oracle-expressible): per language, count the occurrences
    of its stopwords among the lowercased whitespace words; predict the
    first (alphabetically) language with the maximal score, 'und' on zero
    evidence or empty/null text.  Semantics match the former vectorized-UDF
    implementation (counts × membership profile, argmax-first).

    Shaped as ONE ``aggregate`` over the word array with the argmax in
    the finish lambda.  The naive per-language form referenced the
    split-words subtree once per language and the score array three more
    times (scores/max/position); higher-order functions are
    CodegenFallback, so every reference re-evaluated interpreted —
    ~15 re-splits of the text per call (r5, measured).  Inside a lambda,
    ``acc``/``w`` are variables, so each subtree here evaluates once."""
    col = _as_col(col)
    langs = sorted(_STOPWORDS)
    n = len(langs)
    # constant-folded 2-D stopword literal: element_at(sw2d, i) = lang i's list
    sw2d = F.array(
        *[F.array(*[F.lit(s) for s in _STOPWORDS[lang]]) for lang in langs]
    )
    lang_lits = F.array(*[F.lit(lang) for lang in langs])
    zeros = F.array_repeat(F.lit(0).cast("long"), n)

    def _step(acc: Column, w: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(n)),
            lambda i: F.element_at(acc, i)
            + F.array_contains(F.element_at(sw2d, i), w).cast("long"),
        )

    def _finish(acc: Column) -> Column:
        best = F.array_max(acc)
        return F.when(best <= 0, F.lit("und")).otherwise(
            F.element_at(lang_lits, F.array_position(acc, best).cast("int"))
        )

    picked = F.aggregate(words(F.lower(col)), zeros, _step, _finish)
    return F.when(col.isNull() | (col == ""), F.lit("und")).otherwise(picked)


def tf_idf_terms(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-(doc, term) TF-IDF: tf = raw in-document count,
    idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn-style).

    Plan shape: ONE explode pass → (id, term) groupBy with map-side
    combine for tf; document frequency derives from the tf aggregate
    itself (df(term) = number of tf rows for that term — far smaller
    than re-scanning the corpus) as ``count(*)`` over a ``term`` window
    on the tf rows, so the corpus is tokenized once and no second branch
    reads the aggregate; N is a scalar via a 1-row broadcast cross join.
    """
    # small-scan guard: the explode + tf aggregation otherwise run on the
    # scan's 1-4 splits
    terms = resplit(df).select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1)
            ).alias("tf_idf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 of a fixed query, scored over matching documents.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1-b+b·|d|/avgdl))
    with idf(t) = ln(1 + (N-df+0.5)/(df+0.5)).  One per-document
    projection, no explode: the row's words ``ws``, ``dl = size(ws)`` and,
    per distinct query term, ``tf = dl - size(array_remove(ws, t))``
    (codegen builtins, no per-term lambda).
    Rows that share an id pool their counts in a per-id sum.  N and avgdl
    (over documents with ≥1 word) and each term's df come from one
    one-row aggregate of those per-id counts, broadcast onto them.

    Output contains ONE ROW PER DOCUMENT THAT MATCHES ≥1 QUERY TERM —
    documents containing none of the terms (or with empty text) produce
    no row rather than a 0.0 score (ADVICE r3).  That is the posting-list
    shape a retrieval caller wants at scale (score rows ∝ matches, not
    corpus size); to densify, left-join the corpus ids against this
    result and ``coalesce(bm25, 0.0)``.
    """
    terms = list(dict.fromkeys(query_terms))
    tfs = [f"__tf{i}" for i in range(len(terms))]
    ws = resplit(df).select(id_col, words(text_col).alias("__ws"))
    dl = F.array_size("__ws")
    per_doc = (
        ws.select(
            id_col,
            dl.alias("__dl"),
            *[(dl - F.array_size(F.array_remove("__ws", t))).alias(c) for t, c in zip(terms, tfs)],
        )
        .groupBy(id_col)
        .agg(*[F.sum(c).alias(c) for c in ["__dl", *tfs]])
        .where(F.col("__dl") > 0)
    )
    stats = per_doc.agg(
        F.avg("__dl").alias("__avgdl"),
        F.count(F.lit(1)).alias("__n"),
        *[F.count_if(F.col(c) > 0).alias(f"__df{c}") for c in tfs],
    )
    score, matched = F.lit(0.0), F.lit(False)
    for c in tfs:
        tf, dfreq = F.col(c), F.col(f"__df{c}")
        idf = F.log(1 + (F.col("__n") - dfreq + 0.5) / (dfreq + 0.5))
        denom = tf + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
        score = score + F.when(tf > 0, idf * tf * (k1 + 1) / denom).otherwise(0.0)
        matched = matched | (tf > 0)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .where(matched)
        .select(id_col, score.alias("bm25"))
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column family — one narrow projection."""
    col = F.col(text_col)
    return df.select(
        "*",
        whitespace_token_count(col).alias("n_tokens_ws"),
        bpe_ish_token_count(col).alias("n_tokens_bpe"),
        punct_ratio(col).alias("punct_ratio"),
        stopword_ratio(col).alias("stopword_ratio"),
        quality_score(col).alias("quality"),
        content_fingerprint(col).alias("fingerprint"),
        lang_id_col(col).alias("lang_pred"),
    )
