"""Config-driven document quality filtering for training-data curation.

Composes the text-analysis signals (token counts, heuristic quality,
language-ID — spark/textstats.py) with Gopher-style repetition signals
(Rae et al. 2021 §A1.1: duplicate-word / duplicate-line / top-n-gram
fractions) into a single ``keep``/``reject_reason`` decision per
document — the filter stage every large-scale pipeline runs between
ingestion and dedup.

Scale notes:

* Every signal is a per-document computation, so for every rule set the
  filter plan is MAP-ONLY: one projection, zero shuffles, no joins.  The
  scalar signals are one Catalyst struct (one words/lines/paragraphs
  split per row); the repetition signals — top-bigram fraction, the
  n-gram family, line/paragraph character mass — are one C-speed
  ``Counter`` pass per document in one Arrow-vectorized UDF
  (``ngram_char_stats_udf``).  The explode → (id, gram) hash aggregate
  form (``ngram_char_stats``) is its reference.
* Batch (:func:`filter_documents`) and streaming
  (:func:`streaming_quality_filter`) share that one signal builder, so
  their outputs are row-identical on every column.
* The filter itself is a pure projection over those signals — predicate
  pushdown applies to any upstream scan, and ``keep`` can drive
  partition-pruning writes (``partitionBy("keep")``).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import resplit
from .textstats import _JAVA_WS, bind_once, lang_id_col, quality_score, words

__all__ = [
    "FilterRules",
    "dup_word_fraction",
    "dup_line_fraction",
    "dup_paragraph_fraction",
    "ngram_char_stats",
    "ngram_char_stats_udf",
    "filter_documents",
    "streaming_quality_filter",
]


def _lines(col: Column) -> Column:
    return F.filter(F.split(col, r"\n"), lambda s: F.trim(s) != "")


def _paras(col: Column) -> Column:
    return F.filter(F.split(col, r"\n{2,}"), lambda s: F.trim(s) != "")


def _dup_frac_of(u: Column) -> Column:
    """1 − distinct/total over an ALREADY-BOUND unit array (lambda
    variable, see :func:`~.textstats.bind_once`), 0.0 when empty."""
    return F.when(F.size(u) <= 0, F.lit(0.0)).otherwise(
        (F.lit(1.0) - F.size(F.array_distinct(u)) / F.size(u)).cast("double")
    )


def _scalar_signals(col: Column, with_para: bool) -> Column:
    """ONE-evaluation struct of every scalar (per-row) quality signal:
    n_tokens, quality, dup_word_fraction, dup_line_fraction and
    (``with_para``) dup_paragraph_fraction.  The words/lines/paras split
    arrays are each computed exactly once per row and shared across the
    signals via a bound lambda variable (see ``bind_once``); field values
    are bit-identical to the standalone signal functions."""
    members = [words(col).alias("w"), _lines(col).alias("l")]
    if with_para:
        members.append(_paras(col).alias("p"))

    def _mk(s: Column) -> Column:
        n = F.size(s["w"]).cast("long")
        fields = [
            n.alias("n_tokens"),
            quality_score(col, n_words=n).alias("quality"),
            _dup_frac_of(s["w"]).alias("dup_word_fraction"),
            _dup_frac_of(s["l"]).alias("dup_line_fraction"),
        ]
        if with_para:
            fields.append(_dup_frac_of(s["p"]).alias("dup_paragraph_fraction"))
        return F.struct(*fields)

    return bind_once(F.struct(*members), _mk)


def dup_word_fraction(col: Column | str) -> Column:
    """1 − distinct/total over whitespace words (0.0 for empty text) —
    high values mean the document repeats its own vocabulary."""
    return bind_once(words(col), _dup_frac_of)


def dup_line_fraction(col: Column | str) -> Column:
    """1 − distinct/total over newline-split lines (0.0 when ≤1 line)."""
    col = F.col(col) if isinstance(col, str) else col
    return bind_once(_lines(col), _dup_frac_of)


def dup_paragraph_fraction(col: Column | str) -> Column:
    """1 − distinct/total over blank-line-separated paragraphs (Gopher
    'duplicate paragraph fraction'; 0.0 when ≤1 paragraph)."""
    col = F.col(col) if isinstance(col, str) else col
    return bind_once(_paras(col), _dup_frac_of)


# (count, gram-char-length) packed into one BIGINT so "modal n-gram,
# ties broken by longest gram" is a single deterministic max on BOTH
# engines (Spark and the DuckDB oracle): packed = count·2^30 + min(len,
# 2^30−1).  count < 2^30 grams per document and count·2^30 + len < 2^63
# hold for any physically possible document.
_PACK = 1 << 30


def ngram_char_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    with_line_paragraph: bool = False,
) -> DataFrame:
    """The full Gopher repetition-signal family (Rae et al. 2021 §A1.1)
    per document, ONE corpus pass for all n:

    * ``top_{n}gram_char_frac`` (n in ``top_ns``): characters covered by
      the most frequent word n-gram — ``count·len(gram) / len(text)`` —
      ties on count broken deterministically by the LONGEST gram.
    * ``dup_{n}gram_char_frac`` (n in ``dup_ns``): character mass of
      n-gram occurrences whose gram appears ≥ 2 times, over the total
      n-gram character mass — ``Σ_{count≥2} count·len / Σ count·len``.
      (Gopher marks character *positions* so overlapping repeats are not
      double-counted; that needs per-position state and is neither
      SQL-expressible nor shuffle-friendly.  This occurrence-mass form
      over-counts overlaps in numerator and denominator alike, is
      monotone in the same repetition behavior, and stays in [0, 1].)
    * ``top_bigram_fraction``: the modal word bigram's count over all
      bigrams (0.0 below two words) — the bigram lane is always on.
    * ``with_line_paragraph=True``: ``dup_line_char_frac`` /
      ``dup_para_char_frac`` — characters inside newline-split lines /
      blank-line-separated paragraphs (units blank after space-trim
      dropped) occurring ≥ 2 times, over ``len(text)``.  Lines and
      paragraphs are DISJOINT substrings, so occurrence mass equals
      Gopher's char-position marking exactly.  They ride the SAME
      explode as reserved lanes n=0 (line) / n=1 (paragraph) — grams
      start at n=2, so the lanes cannot collide.

    Plan: words → one explode of all (n, gram) windows → two-level hash
    aggregate — (id, n, gram) counts with map-side combine, then per-id
    conditional aggregates — → slim join back to (id, len(text)).
    Returns one row per input id (missing n-grams → 0.0).

    :func:`filter_documents` computes the same fields per row with
    :func:`ngram_char_stats_udf`; this aggregate form is its reference,
    and the DuckDB ``quality_filter`` oracle mirrors it in SQL."""
    if min((*top_ns, *dup_ns), default=2) < 2:
        raise ValueError("n-gram sizes must be >= 2")
    all_ns = sorted({2, *(int(n) for n in (*top_ns, *dup_ns))})
    # small-scan guard: the explode otherwise runs on the parquet scan's
    # 1-4 splits
    df = resplit(df)
    col = F.col(text_col)
    members = [words(col).alias("w")]
    if with_line_paragraph:
        members.extend([_lines(col).alias("l"), _paras(col).alias("p")])

    def _all_lanes(s: Column) -> Column:
        # s binds the split arrays ONCE per row (see bind_once) — without
        # the binding, the `words` subtree inside each window lambda below
        # is a free subtree that interpreted higher-order eval re-splits
        # the text for at EVERY window of every lane: O(lanes·words²) char
        # work per document (r5, measured as 27 split( nodes in the plan)
        w = s["w"]
        nw = F.size(w)

        def _grams(n: int) -> Column:
            # NB: the lambda must take exactly ONE parameter — F.transform
            # inspects the arity and passes (element, index) to
            # two-parameter lambdas, so a `n=n` default-arg capture would
            # be silently shadowed by the index column
            def _window(i: Column) -> Column:
                return F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", F.slice(w, i, n)).alias("g"),
                )

            return F.when(
                nw >= n, F.transform(F.sequence(F.lit(1), nw - n + 1), _window)
            ).otherwise(F.array().cast("array<struct<n:int,g:string>>"))

        def _units(lane: int, units: Column) -> Column:
            return F.transform(
                units, lambda x: F.struct(F.lit(lane).alias("n"), x.alias("g"))
            )

        lanes = [_grams(n) for n in all_ns]
        if with_line_paragraph:
            lanes += [_units(0, s["l"]), _units(1, s["p"])]
        return F.flatten(F.array(*lanes))

    exploded = df.select(
        F.col(id_col),
        F.explode(bind_once(F.struct(*members), _all_lanes)).alias("ng"),
    ).select(id_col, F.col("ng.n").alias("__n"), F.col("ng.g").alias("__g"))
    per_gram = (
        exploded.groupBy(id_col, "__n", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__len", F.least(F.length("__g"), F.lit(_PACK - 1)))
    )
    lane_n, c = F.col("__n"), F.col("__c")
    cl = c * F.col("__len")

    def _dup_mass(lane: int) -> Column:
        return F.sum(F.when((lane_n == lane) & (c >= 2), cl).otherwise(F.lit(0)))

    aggs = [
        F.max(F.when(lane_n == n, c * _PACK + F.col("__len"))).alias(f"__top{n}")
        for n in top_ns
    ]
    for n in dup_ns:
        aggs.append(_dup_mass(n).alias(f"__num{n}"))
        aggs.append(
            F.sum(F.when(lane_n == n, cl).otherwise(F.lit(0))).alias(f"__den{n}")
        )
    aggs.append(F.max(F.when(lane_n == 2, c)).alias("__bg_max"))
    aggs.append(F.sum(F.when(lane_n == 2, c).otherwise(F.lit(0))).alias("__bg_tot"))
    if with_line_paragraph:
        aggs.append(_dup_mass(0).alias("__lnum"))
        aggs.append(_dup_mass(1).alias("__pnum"))
    per_doc = per_gram.groupBy(id_col).agg(*aggs)
    base = df.select(F.col(id_col), F.length(col).alias("__tlen"))
    tlen = F.col("__tlen")

    def _ratio(num: Column, den: Column) -> Column:
        return (
            F.when(num.isNull() | den.isNull() | (den <= 0), F.lit(0.0))
            .otherwise((num / den).cast("double"))
        )

    out_cols = [F.col(id_col)]
    for n in top_ns:
        packed = F.col(f"__top{n}")
        mass = F.shiftright(packed, 30) * (packed % _PACK)
        out_cols.append(_ratio(mass, tlen).alias(f"top_{n}gram_char_frac"))
    for n in dup_ns:
        out_cols.append(
            _ratio(F.col(f"__num{n}"), F.col(f"__den{n}"))
            .alias(f"dup_{n}gram_char_frac")
        )
    out_cols.append(
        _ratio(F.col("__bg_max"), F.col("__bg_tot")).alias("top_bigram_fraction")
    )
    if with_line_paragraph:
        out_cols.append(_ratio(F.col("__lnum"), tlen).alias("dup_line_char_frac"))
        out_cols.append(_ratio(F.col("__pnum"), tlen).alias("dup_para_char_frac"))
    return base.join(per_doc, id_col, "left").select(*out_cols)


def ngram_char_stats_udf(
    col: Column | str,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    with_line_paragraph: bool = False,
) -> Column:
    """Per-row STRUCT of the same fields as :func:`ngram_char_stats`, in
    the same order, as one Arrow-vectorized scalar UDF — the one
    repetition-signal pass of :func:`filter_documents` and
    :func:`streaming_quality_filter`: map-only, and a stateless
    projection a stream can run (the aggregate shape would be a
    stream-stream self-join).  r5 measured it at ~2× a pure-Catalyst
    per-row form: the per-gram work is a C-speed ``Counter`` pass instead
    of interpreted higher-order expressions.  Tokenizes with the Java
    ``\\s+`` (ASCII) convention of :func:`~.textstats.words`, so values
    are identical to the Catalyst signals; the packed (count, len)
    tie-break is reproduced exactly."""
    col = F.col(col) if isinstance(col, str) else col
    field_names = (
        [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
        + ["top_bigram_fraction"]
    )
    if with_line_paragraph:
        field_names += ["dup_line_char_frac", "dup_para_char_frac"]
    schema = "struct<" + ", ".join(f"{f}: double" for f in field_names) + ">"

    @F.pandas_udf(schema)
    def _sig(texts: pd.Series) -> pd.DataFrame:
        import re
        from collections import Counter

        para_re = re.compile(r"\n{2,}")
        rows = []
        for t in texts:
            t = t or ""
            ws = [w for w in _JAVA_WS.split(t) if w]
            row = {}
            for n in sorted({2, *top_ns, *dup_ns}):
                counts = Counter(
                    " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
                )
                if n in top_ns:
                    key = f"top_{n}gram_char_frac"
                    if not counts or not t:
                        row[key] = 0.0
                    else:
                        best = max(
                            c * _PACK + min(len(g), _PACK - 1)
                            for g, c in counts.items()
                        )
                        row[key] = (best >> 30) * (best % _PACK) / len(t)
                if n in dup_ns:
                    den = sum(c * len(g) for g, c in counts.items())
                    num = sum(c * len(g) for g, c in counts.items() if c >= 2)
                    row[f"dup_{n}gram_char_frac"] = num / den if den > 0 else 0.0
                if n == 2:
                    tot = sum(counts.values())
                    row["top_bigram_fraction"] = (
                        max(counts.values()) / tot if tot > 0 else 0.0
                    )
            if with_line_paragraph:
                for key, units in (
                    ("dup_line_char_frac", t.split("\n")),
                    ("dup_para_char_frac", para_re.split(t)),
                ):
                    cnt = Counter(u for u in units if u.strip(" "))
                    num = sum(
                        c * min(len(u), _PACK - 1)
                        for u, c in cnt.items()
                        if c >= 2
                    )
                    row[key] = num / len(t) if t else 0.0
            rows.append(row)
        # explicit column order: dict insertion order interleaves
        # top_bigram_fraction after top_2, but the struct schema declares
        # it after the dup_* fields
        return pd.DataFrame(rows, columns=field_names)

    return _sig(col)


@dataclass(frozen=True)
class FilterRules:
    """Thresholds for :func:`filter_documents`; the reject reason is the
    FIRST failing rule in declaration order."""

    min_tokens: int = 5
    max_tokens: int = 1_000_000
    min_quality: float = 0.0
    allowed_langs: tuple = ()  # empty = any language passes
    max_dup_word_fraction: float = 1.0
    max_top_bigram_fraction: float = 1.0
    # Gopher line/paragraph repetition (§A1.1), opt-in at 1.0 = off:
    # published thresholds dup-line .30 / dup-para .30 (count-based),
    # dup-line-char .20 / dup-para-char .20 (character mass)
    max_dup_line_fraction: float = 1.0
    max_dup_paragraph_fraction: float = 1.0
    max_dup_line_char_fraction: float = 1.0
    max_dup_paragraph_char_fraction: float = 1.0
    # full Gopher n-gram family (Rae et al. 2021 §A1.1), opt-in:
    # ((n, threshold), ...) pairs.  Empty = the per-row UDF counts
    # bigrams only.  Gopher's published thresholds:
    # top: (2, .20) (3, .18) (4, .16); dup: (5, .15) (6, .14) (7, .13)
    # (8, .12) (9, .11) (10, .10).
    max_top_ngram_fraction: tuple = ()
    max_dup_ngram_fraction: tuple = ()


def _signals(df: DataFrame, rules: FilterRules, text_col: str) -> DataFrame:
    """``df`` plus every signal column ``rules`` reads — ONE per-row
    projection, so the plan is map-only for every rule set and runs as is
    on a stream:

    * the scalar signals (n_tokens, quality, dup word/line/paragraph
      fractions) as ONE struct evaluated once per row (one
      words/lines/paras split each — see :func:`_scalar_signals`); the
      struct column is non-cheap, so CollapseProject keeps it
      materialized below the per-field extraction projection;
    * ``lang_pred`` (Catalyst, :func:`~.textstats.lang_id_col`);
    * ONE :func:`ngram_char_stats_udf` column: ``top_bigram_fraction``
      always, the n-gram fractions of the n-gram rules, and the
      line/paragraph character-mass fractions only when one of their
      rules is on."""
    text = F.col(text_col)
    ng = ngram_char_stats_udf(
        text,
        top_ns=tuple(n for n, _ in rules.max_top_ngram_fraction),
        dup_ns=tuple(n for n, _ in rules.max_dup_ngram_fraction),
        with_line_paragraph=(
            rules.max_dup_line_char_fraction < 1.0
            or rules.max_dup_paragraph_char_fraction < 1.0
        ),
    )
    with_para = rules.max_dup_paragraph_fraction < 1.0
    return df.withColumns(
        {"__sc": _scalar_signals(text, with_para), "__ng": ng}
    ).select(
        *[F.col(c) for c in df.columns],
        "__sc.*",
        lang_id_col(text).alias("lang_pred"),
        "__ng.*",
    )


def filter_documents(
    df: DataFrame,
    rules: FilterRules = FilterRules(),
    text_col: str = "text",
) -> DataFrame:
    """Quality-filter decision per document: signals + ``keep`` boolean +
    ``reject_reason`` ('ok' when kept — NULL-free by design so the frame
    survives engine-comparison hashing)."""
    # small-scan guard: the signal projection (split-heavy interpreted
    # higher-order exprs + the Python UDF) is expensive map-side work and
    # otherwise runs serialized on the parquet scan's 1-4 splits
    return _decide(_signals(resplit(df), rules, text_col), rules)


def _reason_column(rules: FilterRules) -> Column:
    """First-failing-rule CASE chain over the signal columns."""
    reason = F.when(F.col("n_tokens") < rules.min_tokens, F.lit("too_short"))
    reason = reason.when(F.col("n_tokens") > rules.max_tokens, F.lit("too_long"))
    reason = reason.when(F.col("quality") < rules.min_quality, F.lit("low_quality"))
    if rules.allowed_langs:
        reason = reason.when(
            ~F.col("lang_pred").isin(*rules.allowed_langs), F.lit("lang")
        )
    reason = reason.when(
        F.col("dup_word_fraction") > rules.max_dup_word_fraction,
        F.lit("repetition_words"),
    )
    if rules.max_dup_line_fraction < 1.0:
        reason = reason.when(
            F.col("dup_line_fraction") > rules.max_dup_line_fraction,
            F.lit("repetition_lines"),
        )
    if rules.max_dup_paragraph_fraction < 1.0:
        reason = reason.when(
            F.col("dup_paragraph_fraction") > rules.max_dup_paragraph_fraction,
            F.lit("repetition_paragraphs"),
        )
    if rules.max_dup_line_char_fraction < 1.0:
        reason = reason.when(
            F.col("dup_line_char_frac") > rules.max_dup_line_char_fraction,
            F.lit("repetition_line_chars"),
        )
    if rules.max_dup_paragraph_char_fraction < 1.0:
        reason = reason.when(
            F.col("dup_para_char_frac") > rules.max_dup_paragraph_char_fraction,
            F.lit("repetition_paragraph_chars"),
        )
    reason = reason.when(
        F.col("top_bigram_fraction") > rules.max_top_bigram_fraction,
        F.lit("repetition_bigram"),
    )
    for n, thr in rules.max_top_ngram_fraction:
        reason = reason.when(
            F.col(f"top_{n}gram_char_frac") > thr,
            F.lit(f"repetition_top{n}gram"),
        )
    for n, thr in rules.max_dup_ngram_fraction:
        reason = reason.when(
            F.col(f"dup_{n}gram_char_frac") > thr,
            F.lit(f"repetition_dup{n}gram"),
        )
    return reason.otherwise(F.lit("ok"))


def _decide(sig: DataFrame, rules: FilterRules) -> DataFrame:
    return sig.withColumn("reject_reason", _reason_column(rules)).withColumn(
        "keep", F.col("reject_reason") == "ok"
    )


def streaming_quality_filter(
    stream_df: DataFrame,
    rules: FilterRules = FilterRules(),
    text_col: str = "text",
) -> DataFrame:
    """Quality filter over a STREAMING DataFrame — the ingest-time stage
    of a continuously-crawled corpus pipeline (filter → dedup → encode).

    Every signal is a stateless projection (the same builder as
    :func:`filter_documents`), so the plan composes with watermarks and
    sinks unchanged and needs no state store; the output is row-identical
    to :func:`filter_documents` on the same rows, every column included."""
    if not stream_df.isStreaming:
        raise ValueError("streaming_quality_filter expects a streaming DataFrame")
    return _decide(_signals(stream_df, rules, text_col), rules)
