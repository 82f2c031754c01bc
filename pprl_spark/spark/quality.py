"""Config-driven document quality filtering for training-data curation.

Composes the text-analysis signals (token counts, heuristic quality,
language-ID — spark/textstats.py) with Gopher-style repetition signals
(Rae et al. 2021 §A1.1: duplicate-word / duplicate-line / top-n-gram
fractions) into a single ``keep``/``reject_reason`` decision per
document — the filter stage every large-scale pipeline runs between
ingestion and dedup.

Scale notes:

* Every signal — including the full n-gram family — is a per-document
  computation, so with n-gram rules the filter plan is MAP-ONLY: one
  projection, zero shuffles, no joins (r5).  The n-gram statistics are
  one C-speed ``Counter`` pass per document in an Arrow-vectorized UDF
  (``ngram_char_stats_udf``); the explode → (id, gram) hash aggregate
  form (``ngram_char_stats``) is its reference.
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
from .textstats import (
    bind_once,
    lang_id_col,
    quality_score,
    whitespace_token_count,
)

__all__ = [
    "FilterRules",
    "dup_word_fraction",
    "dup_line_fraction",
    "dup_paragraph_fraction",
    "line_dup_stats",
    "line_dup_stats_udf",
    "top_bigram_fraction",
    "top_bigram_fraction_udf",
    "ngram_char_stats",
    "ngram_char_stats_udf",
    "repetition_stats",
    "filter_documents",
    "streaming_quality_filter",
]


def _words(col: Column) -> Column:
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


_bind = bind_once  # shared helper, see textstats.bind_once


def _dup_unit_fraction(units: Column) -> Column:
    """1 − distinct/total over an array of units, 0.0 when empty; the
    array subtree is evaluated once (see :func:`_bind`)."""
    return _bind(
        units,
        lambda u: F.when(F.size(u) <= 0, F.lit(0.0)).otherwise(
            (F.lit(1.0) - F.size(F.array_distinct(u)) / F.size(u)).cast(
                "double"
            )
        ),
    )


def _lines(col: Column) -> Column:
    return F.filter(F.split(col, r"\n"), lambda s: F.trim(s) != "")


def _paras(col: Column) -> Column:
    return F.filter(F.split(col, r"\n{2,}"), lambda s: F.trim(s) != "")


def _dup_frac_of(u: Column) -> Column:
    """dup fraction over an ALREADY-BOUND unit array (lambda variable)."""
    return F.when(F.size(u) <= 0, F.lit(0.0)).otherwise(
        (F.lit(1.0) - F.size(F.array_distinct(u)) / F.size(u)).cast("double")
    )


def _scalar_signals(col: Column, with_para: bool) -> Column:
    """ONE-evaluation struct of every scalar (per-row) quality signal:
    n_tokens, quality, dup_word_fraction, dup_line_fraction and
    (``with_para``) dup_paragraph_fraction.  The words/lines/paras split
    arrays are each computed exactly once per row and shared across the
    signals via a bound lambda variable (see :func:`_bind`); field values
    are bit-identical to the standalone signal functions."""
    members = [_words(col).alias("w"), _lines(col).alias("l")]
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

    return _bind(F.struct(*members), _mk)


def dup_word_fraction(col: Column | str) -> Column:
    """1 − distinct/total over whitespace words (0.0 for empty text) —
    high values mean the document repeats its own vocabulary."""
    col = F.col(col) if isinstance(col, str) else col
    return _dup_unit_fraction(_words(col))


def dup_line_fraction(col: Column | str) -> Column:
    """1 − distinct/total over newline-split lines (0.0 when ≤1 line)."""
    col = F.col(col) if isinstance(col, str) else col
    return _dup_unit_fraction(_lines(col))


def dup_paragraph_fraction(col: Column | str) -> Column:
    """1 − distinct/total over blank-line-separated paragraphs (Gopher
    'duplicate paragraph fraction'; 0.0 when ≤1 paragraph)."""
    col = F.col(col) if isinstance(col, str) else col
    return _dup_unit_fraction(_paras(col))


def line_dup_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher's character-mass repetition signals for lines and
    paragraphs, ONE explode pass for both unit kinds:

    * ``dup_line_char_frac`` — characters inside lines occurring ≥ 2
      times, over ``len(text)``.
    * ``dup_para_char_frac`` — same over blank-line-separated paragraphs.

    Unlike n-grams, lines/paragraphs are DISJOINT substrings, so
    occurrence mass equals Gopher's char-position marking exactly (up to
    the separator characters in the denominator).  Plan: explode
    (id, kind, unit) → (id, kind, unit) hash aggregate with map-side
    combine → per-id conditional sums → slim join back to (id,
    len(text)).  Dense output: one row per input id, 0.0 when absent."""
    df = resplit(df)
    col = F.col(text_col)
    lines = F.filter(F.split(col, r"\n"), lambda s: F.trim(s) != "")
    paras = F.filter(F.split(col, r"\n{2,}"), lambda s: F.trim(s) != "")

    def _lane(kind: str, arr: Column) -> Column:
        return F.transform(
            arr,
            lambda x: F.struct(F.lit(kind).alias("k"), x.alias("u")),
        )

    exploded = df.select(
        F.col(id_col),
        F.explode(F.flatten(F.array(_lane("l", lines), _lane("p", paras)))).alias(
            "ku"
        ),
    ).select(id_col, F.col("ku.k").alias("__k"), F.col("ku.u").alias("__u"))
    per_unit = (
        exploded.groupBy(id_col, "__k", "__u")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__len", F.length("__u"))
    )
    cl = F.col("__c") * F.col("__len")
    per_doc = per_unit.groupBy(id_col).agg(
        F.sum(
            F.when((F.col("__k") == "l") & (F.col("__c") >= 2), cl).otherwise(0)
        ).alias("__lnum"),
        F.sum(
            F.when((F.col("__k") == "p") & (F.col("__c") >= 2), cl).otherwise(0)
        ).alias("__pnum"),
    )
    base = df.select(F.col(id_col), F.length(col).alias("__tlen"))
    joined = base.join(per_doc, id_col, "left")

    def _frac(num: Column) -> Column:
        return (
            F.when(num.isNull() | (F.col("__tlen") <= 0), F.lit(0.0))
            .otherwise((num / F.col("__tlen")).cast("double"))
        )

    return joined.select(
        F.col(id_col),
        _frac(F.col("__lnum")).alias("dup_line_char_frac"),
        _frac(F.col("__pnum")).alias("dup_para_char_frac"),
    )


def line_dup_stats_udf(col: Column | str) -> Column:
    """Per-row STRUCT form of :func:`line_dup_stats` for streaming plans
    (stateless projection).  Splitting conventions mirror the Catalyst
    path: Java-regex ``\\n`` / ``\\n{2,}`` splits, units blank after
    space-trim dropped."""
    col = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf(
        "struct<dup_line_char_frac: double, dup_para_char_frac: double>"
    )
    def _sig(texts: pd.Series) -> pd.DataFrame:
        import re
        from collections import Counter

        para_re = re.compile(r"\n{2,}")
        rows = []
        for t in texts:
            t = t or ""
            tlen = len(t)
            out = {}
            for key, units in (
                ("dup_line_char_frac", t.split("\n")),
                ("dup_para_char_frac", para_re.split(t)),
            ):
                kept = [u for u in units if u.strip(" ")]
                counts = Counter(kept)
                num = sum(c * len(u) for u, c in counts.items() if c >= 2)
                out[key] = num / tlen if tlen > 0 else 0.0
            rows.append(out)
        return pd.DataFrame(rows)

    return _sig(col)


def _top_bigram_per_doc(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Sparse (id, top_bigram_fraction) — only documents with ≥1 bigram
    appear; callers left-join and coalesce to 0.0.  Linear explode + hash
    aggregate, never a per-document quadratic scan."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    n = F.size(words)
    # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) and element_at(_, 0)
    # throws under ANSI — docs with < 2 words must short-circuit to []
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(F.col(id_col), F.explode(bigrams).alias("__bg"))
    per_bigram = exploded.groupBy(id_col, "__bg").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return per_bigram.groupBy(id_col).agg(
        (F.max("__n") / F.sum("__n")).cast("double").alias("top_bigram_fraction")
    )


def top_bigram_fraction(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, top_bigram_fraction) for EVERY input id: the most frequent
    word-bigram's share of all bigrams, 0.0 for documents with fewer than
    two words."""
    per_doc = _top_bigram_per_doc(df, id_col, text_col)
    ids = df.select(id_col).distinct()
    return ids.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("top_bigram_fraction", F.lit(0.0)).alias("top_bigram_fraction"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Attach the three Gopher-style repetition signals.  The bigram
    aggregate joins back LEFT against the full rows directly (sparse side
    broadcastable), so the corpus is scanned twice total — once for the
    narrow signals, once for the bigram explode — with no third
    ids-distinct pass."""
    narrow = df.withColumns(
        {
            "dup_word_fraction": dup_word_fraction(F.col(text_col)),
            "dup_line_fraction": dup_line_fraction(F.col(text_col)),
        }
    )
    tops = _top_bigram_per_doc(df, id_col, text_col)
    return narrow.join(tops, id_col, "left").withColumn(
        "top_bigram_fraction",
        F.coalesce("top_bigram_fraction", F.lit(0.0)),
    )


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
    with_top_bigram_occurrence: bool = False,
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

    Plan: words → one explode of all (n, gram) windows → two-level hash
    aggregate — (id, n, gram) counts with map-side combine, then per-id
    conditional aggregates — → broadcast-friendly slim join back to
    (id, len(text)).  Same shuffle shape as the tf pass the pipeline
    already runs; gram keys are content-uniform so no skew handling is
    needed.  Returns one row per input id (missing n-grams → 0.0).

    ``with_top_bigram_occurrence=True`` additionally emits the legacy
    ``top_bigram_fraction`` (modal bigram count / total bigrams) from the
    SAME pass, so :func:`filter_documents` needs no separate bigram
    explode when the family is enabled.  ``with_line_paragraph=True``
    rides the line/paragraph units of :func:`line_dup_stats` through the
    SAME explode as reserved lanes n=0 (line) / n=1 (paragraph) — grams
    start at n=2, so the lanes cannot collide — emitting
    ``dup_line_char_frac`` / ``dup_para_char_frac`` without a second
    corpus scan.

    :func:`filter_documents` computes the same fields per row with
    :func:`ngram_char_stats_udf`; this aggregate form is its reference."""
    all_ns = sorted({int(n) for n in (*top_ns, *dup_ns)})
    if with_top_bigram_occurrence and 2 not in all_ns:
        all_ns = sorted([2, *all_ns])
    if not all_ns or min(all_ns) < 2:
        raise ValueError("n-gram sizes must be >= 2")
    # small-scan guard: the explode otherwise runs on the parquet scan's
    # 1-4 splits
    df = resplit(df)
    col = F.col(text_col)
    members = [_words(col).alias("w")]
    if with_line_paragraph:
        members.extend([_lines(col).alias("l"), _paras(col).alias("p")])

    def _all_lanes(s: Column) -> Column:
        # s binds the split arrays ONCE per row (see _bind) — without the
        # binding, the `words` subtree inside each window lambda below is
        # a free subtree that interpreted higher-order eval re-splits the
        # text for at EVERY window of every lane: O(lanes·words²) char
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

        lanes = [_grams(n) for n in all_ns]
        if with_line_paragraph:
            lanes.append(
                F.transform(
                    s["l"], lambda x: F.struct(F.lit(0).alias("n"), x.alias("g"))
                )
            )
            lanes.append(
                F.transform(
                    s["p"], lambda x: F.struct(F.lit(1).alias("n"), x.alias("g"))
                )
            )
        return F.flatten(F.array(*lanes))

    exploded = df.select(
        F.col(id_col),
        F.explode(_bind(F.struct(*members), _all_lanes)).alias("ng"),
    ).select(id_col, F.col("ng.n").alias("__n"), F.col("ng.g").alias("__g"))
    per_gram = (
        exploded.groupBy(id_col, "__n", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__len", F.least(F.length("__g"), F.lit(_PACK - 1)))
    )
    aggs = []
    for n in top_ns:
        aggs.append(
            F.max(
                F.when(F.col("__n") == n, F.col("__c") * _PACK + F.col("__len"))
            ).alias(f"__top{n}")
        )
    for n in dup_ns:
        cl = F.col("__c") * F.col("__len")
        aggs.append(
            F.sum(
                F.when((F.col("__n") == n) & (F.col("__c") >= 2), cl).otherwise(
                    F.lit(0)
                )
            ).alias(f"__num{n}")
        )
        aggs.append(
            F.sum(F.when(F.col("__n") == n, cl).otherwise(F.lit(0))).alias(
                f"__den{n}"
            )
        )
    if with_top_bigram_occurrence:
        is2 = F.col("__n") == 2
        aggs.append(F.max(F.when(is2, F.col("__c"))).alias("__bg_max"))
        aggs.append(
            F.sum(F.when(is2, F.col("__c")).otherwise(F.lit(0))).alias("__bg_tot")
        )
    if with_line_paragraph:
        cl = F.col("__c") * F.col("__len")
        for lane, name in ((0, "__lnum"), (1, "__pnum")):
            aggs.append(
                F.sum(
                    F.when(
                        (F.col("__n") == lane) & (F.col("__c") >= 2), cl
                    ).otherwise(F.lit(0))
                ).alias(name)
            )
    per_doc = per_gram.groupBy(id_col).agg(*aggs)
    base = df.select(F.col(id_col), F.length(F.col(text_col)).alias("__tlen"))
    joined = base.join(per_doc, id_col, "left")
    out_cols = [F.col(id_col)]
    for n in top_ns:
        packed = F.col(f"__top{n}")
        out_cols.append(
            F.when(
                packed.isNull() | (F.col("__tlen") <= 0), F.lit(0.0)
            )
            .otherwise(
                (
                    F.shiftright(packed, 30) * (packed % _PACK) / F.col("__tlen")
                ).cast("double")
            )
            .alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ns:
        num, den = F.col(f"__num{n}"), F.col(f"__den{n}")
        out_cols.append(
            F.when(den.isNull() | (den <= 0), F.lit(0.0))
            .otherwise((num / den).cast("double"))
            .alias(f"dup_{n}gram_char_frac")
        )
    if with_top_bigram_occurrence:
        out_cols.append(
            F.when(
                F.col("__bg_max").isNull() | (F.col("__bg_tot") <= 0), F.lit(0.0)
            )
            .otherwise((F.col("__bg_max") / F.col("__bg_tot")).cast("double"))
            .alias("top_bigram_fraction")
        )
    if with_line_paragraph:
        for name, alias in (
            ("__lnum", "dup_line_char_frac"),
            ("__pnum", "dup_para_char_frac"),
        ):
            num = F.col(name)
            out_cols.append(
                F.when(num.isNull() | (F.col("__tlen") <= 0), F.lit(0.0))
                .otherwise((num / F.col("__tlen")).cast("double"))
                .alias(alias)
            )
    return joined.select(*out_cols)


def ngram_char_stats_udf(
    col: Column | str,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    with_top_bigram_occurrence: bool = False,
    with_line_paragraph: bool = False,
) -> Column:
    """Per-row STRUCT of the same Gopher n-gram signals as
    :func:`ngram_char_stats`, as one Arrow-vectorized scalar UDF — the
    stateless-projection form for streaming plans (the batch aggregate
    shape would be a stream-stream self-join) and the batch form
    :func:`filter_documents` runs (r5 measured ~2× a pure-Catalyst
    per-row form: the per-gram work is a C-speed ``Counter`` pass instead
    of interpreted higher-order expressions).  Tokenizes
    with the Java ``\\s+`` (ASCII) convention so decisions are
    row-identical to batch; the packed (count, len) tie-break is
    reproduced exactly.  ``with_top_bigram_occurrence`` adds the legacy
    ``top_bigram_fraction`` (modal bigram count / total bigrams);
    ``with_line_paragraph`` adds ``dup_line_char_frac`` /
    ``dup_para_char_frac`` (line/paragraph conventions of
    :func:`line_dup_stats`)."""
    col = F.col(col) if isinstance(col, str) else col
    fields = [f"top_{n}gram_char_frac double" for n in top_ns] + [
        f"dup_{n}gram_char_frac double" for n in dup_ns
    ]
    if with_top_bigram_occurrence:
        fields.append("top_bigram_fraction double")
    if with_line_paragraph:
        fields.append("dup_line_char_frac double")
        fields.append("dup_para_char_frac double")
    schema = "struct<" + ", ".join(f.replace(" ", ": ", 1) for f in fields) + ">"
    field_names = [f.split(" ")[0] for f in fields]

    @F.pandas_udf(schema)
    def _sig(texts: pd.Series) -> pd.DataFrame:
        import re
        from collections import Counter

        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        para_re = re.compile(r"\n{2,}")
        rows = []
        for t in texts:
            t = t or ""
            ws = [w for w in java_ws.split(t) if w]
            row = {}
            wants_bg = with_top_bigram_occurrence
            for n in sorted({*top_ns, *dup_ns, *( [2] if wants_bg else [] )}):
                grams = [
                    " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
                ]
                counts = Counter(grams)
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
                    key = f"dup_{n}gram_char_frac"
                    den = sum(c * len(g) for g, c in counts.items())
                    num = sum(
                        c * len(g) for g, c in counts.items() if c >= 2
                    )
                    row[key] = num / den if den > 0 else 0.0
                if wants_bg and n == 2:
                    tot = sum(counts.values())
                    row["top_bigram_fraction"] = (
                        max(counts.values()) / tot if tot > 0 else 0.0
                    )
            if with_line_paragraph:
                tlen = len(t)
                for key, units in (
                    ("dup_line_char_frac", t.split("\n")),
                    ("dup_para_char_frac", para_re.split(t)),
                ):
                    kept = [u for u in units if u.strip(" ")]
                    cnt = Counter(kept)
                    num = sum(
                        c * min(len(u), _PACK - 1)
                        for u, c in cnt.items()
                        if c >= 2
                    )
                    row[key] = num / tlen if tlen > 0 else 0.0
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
    # ((n, threshold), ...) pairs.  Empty = the n-gram pass is skipped
    # entirely (no extra corpus scan).  Gopher's published thresholds:
    # top: (2, .20) (3, .18) (4, .16); dup: (5, .15) (6, .14) (7, .13)
    # (8, .12) (9, .11) (10, .10).
    max_top_ngram_fraction: tuple = ()
    max_dup_ngram_fraction: tuple = ()


def filter_documents(
    df: DataFrame,
    rules: FilterRules = FilterRules(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-filter decision per document: signals + ``keep`` boolean +
    ``reject_reason`` ('ok' when kept — NULL-free by design so the frame
    survives engine-comparison hashing)."""
    # small-scan guard: the scalar-signal projection (split-heavy,
    # interpreted higher-order exprs) is expensive map-side work and
    # otherwise runs serialized on the parquet scan's 1-4 splits
    df = resplit(df)
    with_para = rules.max_dup_paragraph_fraction < 1.0
    # every scalar signal rides ONE struct evaluated once per row (one
    # words/lines/paras split each — see _scalar_signals); the struct
    # column is non-cheap so CollapseProject keeps it materialized below
    # the per-field extraction projection
    sig_names = ["n_tokens", "quality", "dup_word_fraction", "dup_line_fraction"]
    if with_para:
        sig_names.append("dup_paragraph_fraction")
    narrow = df.withColumn(
        "__sc", _scalar_signals(F.col(text_col), with_para)
    ).select(
        *[F.col(c) for c in df.columns],
        *[F.col("__sc")[n].alias(n) for n in sig_names],
        lang_id_col(F.col(text_col)).alias("lang_pred"),
    )
    needs_units = (
        rules.max_dup_line_char_fraction < 1.0
        or rules.max_dup_paragraph_char_fraction < 1.0
    )
    if rules.max_top_ngram_fraction or rules.max_dup_ngram_fraction:
        ng_kw = dict(
            top_ns=tuple(n for n, _ in rules.max_top_ngram_fraction),
            dup_ns=tuple(n for n, _ in rules.max_dup_ngram_fraction),
            with_top_bigram_occurrence=True,
            with_line_paragraph=needs_units,
        )
        # map-only: one Arrow-vectorized pass (zero shuffle, no join —
        # the filter stage is one projection end-to-end)
        sig = narrow.withColumn(
            "__ng", ngram_char_stats_udf(F.col(text_col), **ng_kw)
        )
        ng_fields = sig.schema["__ng"].dataType.fieldNames()
        sig = sig.select(
            *[F.col(c) for c in narrow.columns],
            *[F.col("__ng")[f].alias(f) for f in ng_fields],
        )
    else:
        tops = _top_bigram_per_doc(df, id_col, text_col)
        sig = narrow.join(tops, id_col, "left").withColumn(
            "top_bigram_fraction",
            F.coalesce("top_bigram_fraction", F.lit(0.0)),
        )
        if needs_units:
            sig = sig.join(line_dup_stats(df, id_col, text_col), id_col, "left")
    return _decide(sig, rules)


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


def top_bigram_fraction_udf(col: Column | str) -> Column:
    """Per-row top-bigram fraction as an Arrow-vectorized scalar UDF —
    the STATELESS-PROJECTION form of :func:`top_bigram_fraction` for
    streaming plans, where the batch explode + re-join shape would be a
    stream-stream self-join.  Linear per document (collections.Counter),
    identical values to the batch aggregate."""
    col = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("double")
    def _tbf(texts: pd.Series) -> pd.Series:
        import re
        from collections import Counter

        # Java regex \s is ASCII-only ([ \t\n\x0b\f\r]); python's
        # str.split() splits on Unicode whitespace (\xa0,  , ...)
        # which would flip keep/reject decisions vs the batch Catalyst
        # path near the threshold (ADVICE r4).  Mirror Java exactly.
        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        out = []
        for t in texts:
            words = [w for w in java_ws.split(t or "") if w]
            if len(words) < 2:
                out.append(0.0)
                continue
            counts = Counter(zip(words, words[1:]))
            out.append(max(counts.values()) / (len(words) - 1))
        return pd.Series(out, dtype="float64")

    return _tbf(col)


def streaming_quality_filter(
    stream_df: DataFrame,
    rules: FilterRules = FilterRules(),
    text_col: str = "text",
) -> DataFrame:
    """Quality filter over a STREAMING DataFrame — the ingest-time stage
    of a continuously-crawled corpus pipeline (filter → dedup → encode).

    Every signal here is a stateless projection, so the plan composes
    with watermarks/sinks unchanged and needs no state store: the
    Catalyst expressions are shared with batch; ``top_bigram_fraction``
    switches to its vectorized-UDF form (the batch aggregate shape would
    be a stream-stream self-join).  Decisions are row-identical to
    :func:`filter_documents` on the same rows."""
    if not stream_df.isStreaming:
        raise ValueError("streaming_quality_filter expects a streaming DataFrame")
    stream_cols = {
        "dup_word_fraction": dup_word_fraction(F.col(text_col)),
        "dup_line_fraction": dup_line_fraction(F.col(text_col)),
        "top_bigram_fraction": top_bigram_fraction_udf(F.col(text_col)),
        "n_tokens": whitespace_token_count(F.col(text_col)),
        "quality": quality_score(F.col(text_col)),
        "lang_pred": lang_id_col(F.col(text_col)),
    }
    if rules.max_dup_paragraph_fraction < 1.0:
        stream_cols["dup_paragraph_fraction"] = dup_paragraph_fraction(
            F.col(text_col)
        )
    sig = stream_df.withColumns(stream_cols)
    if (
        rules.max_dup_line_char_fraction < 1.0
        or rules.max_dup_paragraph_char_fraction < 1.0
    ):
        sig = (
            sig.withColumn("__ld", line_dup_stats_udf(F.col(text_col)))
            .withColumn("dup_line_char_frac", F.col("__ld.dup_line_char_frac"))
            .withColumn("dup_para_char_frac", F.col("__ld.dup_para_char_frac"))
            .drop("__ld")
        )
    if rules.max_top_ngram_fraction or rules.max_dup_ngram_fraction:
        top_ns = tuple(n for n, _ in rules.max_top_ngram_fraction)
        dup_ns = tuple(n for n, _ in rules.max_dup_ngram_fraction)
        sig = sig.withColumn(
            "__ng", ngram_char_stats_udf(F.col(text_col), top_ns, dup_ns)
        )
        for n in top_ns:
            sig = sig.withColumn(
                f"top_{n}gram_char_frac", F.col(f"__ng.top_{n}gram_char_frac")
            )
        for n in dup_ns:
            sig = sig.withColumn(
                f"dup_{n}gram_char_frac", F.col(f"__ng.dup_{n}gram_char_frac")
            )
        sig = sig.drop("__ng")
    return _decide(sig, rules)
