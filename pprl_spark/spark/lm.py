"""Distributed Stupid Backoff n-gram language model + perplexity scoring.

CCNet-style corpus curation scores each document by the perplexity of a
language model trained on a trusted corpus and drops the high-perplexity
tail.  At web scale the only LM that trains in one MapReduce pass is the
Stupid Backoff model of Brants et al. 2007 ("Large Language Models in
Machine Translation"), which replaces normalized smoothing with a fixed
backoff multiplier:

    S(w | ctx_n)  =  count(ctx_n, w) / count(ctx_n)        if count > 0
                  =  alpha * S(w | ctx_{n-1})               otherwise
    S(w)          =  max(count(w), 1) / N                   (unigram floor)

(the ``max(count, 1)`` floor keeps unseen words finite — the standard
"UNK has count 1" convention).  Scores are not probabilities (they do
not sum to 1), which is exactly why training is a pure counting job.

Spark-first shape — no Python in any hot path:

* **Training** is one explode + hash aggregate per gram order, unioned
  into a single ``(n, gram, cnt)`` counts frame.  Gram context windows
  are built *inside the token array* with ``transform``/``element_at``
  before the explode, so no window shuffle over the token stream is
  ever needed.  The counts frame is the compacted intermediate (distinct
  grams, far smaller than the corpus) and is materialized with a
  ``localCheckpoint`` — scoring joins it 2·(order−1)+1 times (see
  :func:`train_stupid_backoff` for why it stays).
* **Scoring** explodes the eval corpus once and left-joins the counts
  frame per backoff level on the gram string.  Bigram+ levels are
  joins with no strategy hint: AQE picks broadcast or shuffle from each
  level's runtime size, and its skew split covers Zipf-hot keys ("the"
  at every other position).  The backoff cascade itself is a single
  Catalyst CASE expression; the per-document reduce is a hash agg.

At 10^12 pages the counts frame for order 3 is itself web-scale;
``hash_grams=True`` replaces gram strings with level-salted 64-bit
hashes in every aggregation and join key (~3× narrower shuffles,
negligible count-merge collisions — see :func:`_gram_key`), off by
default so estimates stay exact and SQL-oracle-checkable.

No reference counterpart: ul-mds/pprl has no language-model scoring;
this extends the curation family (quality.py, decontaminate.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import resplit
from .textstats import _JAVA_WS, words

__all__ = [
    "train_stupid_backoff",
    "stupid_backoff_scores",
    "score_documents",
    "perplexity_filter",
    "counts_to_local",
    "score_text_local",
    "streaming_perplexity_filter",
]

#: row in the counts frame carrying the total training-token count N
TOTAL_MARKER = 0


def _token_positions(
    df: DataFrame, id_col: str, text_col: str, order: int
) -> DataFrame:
    """(id, i, w0..w{order-1}) rows: token at position i (1-based) plus
    its ``order-1`` predecessors (NULL when the position has none).

    Context windows are materialized inside the token array via
    ``transform`` before the explode — pure Catalyst, no per-doc window
    shuffle.  Empty documents are dropped (callers re-attach them with
    sentinels).  ``sequence(1, 0)`` descends in Spark, hence the
    ``size >= 1`` filter before building positions.
    """
    # small-scan guard: the explode + gram aggs otherwise run on the
    # parquet scan's 1-4 splits
    df = resplit(df)
    ws = words(text_col)
    base = df.select(F.col(id_col), ws.alias("__ws")).filter(
        F.size("__ws") >= 1
    )

    def _pos_struct(i: Column) -> Column:
        fields = [i.alias("i"), F.element_at(F.col("__ws"), i).alias("w0")]
        for k in range(1, order):
            fields.append(
                F.when(
                    i >= k + 1, F.element_at(F.col("__ws"), i - k)
                ).alias(f"w{k}")
            )
        return F.struct(*fields)

    arr = F.transform(F.sequence(F.lit(1), F.size("__ws")), _pos_struct)
    return base.select(id_col, F.explode(arr).alias("__p")).select(
        id_col, "__p.*"
    )


def _gram(cols: list[Column]) -> Column:
    """Space-joined gram, NULL unless the farthest context word exists
    (concat_ws silently skips NULLs — a 2-gram would otherwise collide
    with a 3-gram whose leading word is missing)."""
    return F.when(cols[0].isNotNull(), F.concat_ws(" ", *cols))


def _gram_key(k: int, gram: Column, hash_grams: bool) -> Column:
    """Join/aggregation key for a k-gram: the gram string, or its
    64-bit xxhash (level-salted so a unigram and a bigram can never
    collide by value).  Hashing happens map-side, so every count
    aggregation and scoring shuffle carries 8-byte keys instead of gram
    strings (~3× narrower at order 3); the cost is a vanishing
    count-merge collision probability (~|grams|²/2⁶⁵ — ≈0.003 expected
    collisions at 10M grams), which moves single estimates by at most
    one backoff level."""
    return F.xxhash64(F.lit(k), gram) if hash_grams else gram


def train_stupid_backoff(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 3,
    hash_grams: bool = False,
) -> DataFrame:
    """Count all 1..order grams of the corpus in one explode pass.

    Returns ``(n: int, gram: string, cnt: long)`` — one hash aggregate
    per order over the same positions frame, unioned — plus a marker row
    ``(0, '', N)`` carrying the total token count.  The result is
    materialized (``localCheckpoint``): scoring consumes it once per
    backoff level.  Despite ``eager=False`` the per-order aggregates'
    shuffle map stages run when this is called (AQE runs every exchange
    below a checkpoint): building ``lm_perplexity`` starts 5 Spark jobs
    beyond the parquet read.  Kept: the checkpoint-free plan, whose
    reused exchanges share the aggregates, measured no faster (the
    checkpoint A/B in CHANGES.md).

    ``hash_grams=True`` is the 100 TB shuffle-width knob: the ``gram``
    column becomes ``gram_hash`` (LONG, see :func:`_gram_key`), every
    exchange in training and scoring carries 8-byte keys, and scoring
    auto-detects the keyed form.  Estimates are then approximate to the
    (negligible) 64-bit collision rate, not SQL-oracle-exact, and the
    counts cannot feed the streaming scorer's string-keyed dict.
    """
    if order < 2:
        raise ValueError(f"order must be >= 2 (got {order})")
    pos = _token_positions(df, id_col, text_col, order)
    w = [F.col(f"w{k}") for k in range(order)]
    gcol = "gram_hash" if hash_grams else "gram"
    parts = [
        pos.agg(
            F.lit(TOTAL_MARKER).alias("n"),
            (F.lit(0).cast("long") if hash_grams else F.lit("")).alias(gcol),
            F.count(F.lit(1)).alias("cnt"),
        ),
        pos.groupBy(_gram_key(1, w[0], hash_grams).alias(gcol))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(1).alias("n"), gcol, "cnt"),
    ]
    for k in range(2, order + 1):
        # k-gram ending at i exists iff the farthest word w{k-1} does
        parts.append(
            pos.filter(w[k - 1].isNotNull())
            .groupBy(
                _gram_key(k, _gram(w[k - 1 :: -1]), hash_grams).alias(gcol)
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(k).alias("n"), gcol, "cnt")
        )
    counts = parts[0]
    for p in parts[1:]:
        counts = counts.unionByName(p)
    return counts.localCheckpoint(eager=False)


def stupid_backoff_scores(
    df: DataFrame,
    counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 3,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document Stupid Backoff log-score and perplexity.

    Returns ``(id, n_tokens, avg_logprob, perplexity)`` for every
    document with >= 1 token, where ``avg_logprob = mean(ln S(w_i))``
    and ``perplexity = exp(-avg_logprob)``.  Positions with fewer than
    ``order-1`` predecessors start the cascade at their own level (the
    first token is scored by the raw unigram model, no alpha penalty).

    ``counts`` must come from :func:`train_stupid_backoff` with the same
    ``order`` (higher-order counts present are ignored).  No level join
    carries a strategy hint: AQE broadcasts a level that is small at run
    time and splits skewed shuffle partitions otherwise.  Only
    the one-row total is broadcast.
    """
    if order < 2:
        raise ValueError(f"order must be >= 2 (got {order})")
    hashed = "gram_hash" in counts.columns
    gcol = "gram_hash" if hashed else "gram"
    pos = _token_positions(df, id_col, text_col, order)
    w = [F.col(f"w{k}") for k in range(order)]

    def _level(n: int) -> DataFrame:
        return counts.filter(F.col("n") == n).select(
            F.col(gcol).alias(f"__g{n}"), F.col("cnt").alias(f"__c{n}")
        )

    uni = _level(1)
    scored = pos.join(
        uni, _gram_key(1, w[0], hashed) == F.col("__g1"), "left"
    ).withColumnRenamed("__c1", "__cnt1").drop("__g1")
    # previous-word unigram count = context of the bigram level
    ctx1 = counts.filter(F.col("n") == 1).select(
        F.col(gcol).alias("__gp"), F.col("cnt").alias("__ctx2")
    )
    scored = scored.join(
        ctx1, _gram_key(1, w[1], hashed) == F.col("__gp"), "left"
    ).drop("__gp")
    for k in range(2, order + 1):
        lvl = _level(k)
        scored = scored.join(
            lvl,
            _gram_key(k, _gram(w[k - 1 :: -1]), hashed) == F.col(f"__g{k}"),
            "left",
        ).withColumnRenamed(f"__c{k}", f"__cnt{k}").drop(f"__g{k}")
        if k >= 3:
            # context count of level k = (k-1)-gram ending at i-1
            ctx = counts.filter(F.col("n") == k - 1).select(
                F.col(gcol).alias("__gc"), F.col("cnt").alias(f"__ctx{k}")
            )
            scored = scored.join(
                ctx,
                _gram_key(k - 1, _gram(w[k - 1 : 0 : -1]), hashed)
                == F.col("__gc"),
                "left",
            ).drop("__gc")
    total = counts.filter(F.col("n") == TOTAL_MARKER).select(
        F.col("cnt").cast("double").alias("__N")
    )
    scored = scored.crossJoin(F.broadcast(total))

    # backoff cascade, built unigram-up; a seen k-gram implies its
    # context (k-1)-gram was seen, so the divisions never hit NULL/0
    s = (
        F.greatest(F.coalesce(F.col("__cnt1"), F.lit(0)), F.lit(1))
        .cast("double")
        / F.col("__N")
    )
    levels: list[Column] = [s]
    for k in range(2, order + 1):
        s = F.when(
            F.col(f"__cnt{k}").isNotNull(),
            F.col(f"__cnt{k}").cast("double") / F.col(f"__ctx{k}"),
        ).otherwise(F.lit(alpha) * s)
        levels.append(s)
    # start the cascade at the position's own level: highest k with a
    # full context window (g_k non-null <=> i >= k)
    pick = levels[0]
    for k in range(2, order + 1):
        pick = F.when(w[k - 1].isNotNull(), levels[k - 1]).otherwise(pick)
    logp = F.log(pick)

    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(logp).alias("avg_logprob"),
        F.exp(-F.avg(logp)).alias("perplexity"),
    )


def score_documents(
    df: DataFrame,
    counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 3,
    alpha: float = 0.4,
) -> DataFrame:
    """All input rows scored — token-less documents re-attached with
    sentinels (``n_tokens=0, avg_logprob=0.0, perplexity=-1.0``) so the
    result is NULL-free and row-complete."""
    scores = stupid_backoff_scores(df, counts, id_col, text_col, order, alpha)
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"),
        F.coalesce("perplexity", F.lit(-1.0)).alias("perplexity"),
    )


def counts_to_local(counts: DataFrame) -> dict:
    """Collect a :func:`train_stupid_backoff` counts frame into the
    driver-side dict used by the streaming scorer:
    ``{(n, gram): cnt, ..., "N": total}``.

    This is the CCNet deployment shape — the *pruned* production LM is a
    few GB and ships to every executor once (broadcast), which is what
    makes ingest-time scoring a stateless per-row projection.  Guard
    rails: collect only counts frames you have pruned (e.g.
    ``counts.filter("cnt >= k OR n <= 1")``) when the training corpus is
    large."""
    if "gram_hash" in counts.columns:
        raise ValueError(
            "hash_grams counts are LONG-keyed and cannot feed the "
            "string-keyed streaming scorer; train with hash_grams=False "
            "for streaming deployment"
        )
    local: dict = {}
    for row in counts.collect():
        if row.n == TOTAL_MARKER:
            local["N"] = row.cnt
        else:
            local[(row.n, row.gram)] = row.cnt
    if "N" not in local:
        raise ValueError("counts frame has no total-token marker row (n=0)")
    return local


def score_text_local(
    counts: dict, text: str, order: int = 3, alpha: float = 0.4
) -> tuple[int, float, float]:
    """Row-at-a-time Stupid Backoff over a local counts dict —
    ``(n_tokens, avg_logprob, perplexity)``, the same cascade as the
    distributed path (token loop accumulates in position order, matching
    the per-doc partial aggregate, so batch and streaming scores agree
    to float rounding; words split on ASCII whitespace, as ``words``).
    Token-less text returns the batch sentinels ``(0, 0.0, -1.0)``."""
    import math

    ws = [w for w in _JAVA_WS.split(text) if w] if text else []
    if not ws:
        return 0, 0.0, -1.0
    n_total = float(counts["N"])
    lp_sum = 0.0
    for j, w in enumerate(ws):
        c1 = counts.get((1, w), 0)
        s = max(c1, 1) / n_total
        top = min(j + 1, order)
        for k in range(2, top + 1):
            gram = " ".join(ws[j - k + 1 : j + 1])
            ck = counts.get((k, gram))
            if ck is not None:
                ctx = counts.get(
                    (k - 1, " ".join(ws[j - k + 1 : j]))
                    if k > 2
                    else (1, ws[j - 1])
                )
                s = ck / ctx
            else:
                s = alpha * s
        lp_sum += math.log(s)
    avg = lp_sum / len(ws)
    return len(ws), avg, math.exp(-avg)


def streaming_perplexity_filter(
    stream_df: DataFrame,
    counts: dict,
    max_perplexity: float,
    text_col: str = "text",
    order: int = 3,
    alpha: float = 0.4,
) -> DataFrame:
    """CCNet-style LM filter over a STREAMING DataFrame — the
    ingest-time stage of the curation graph (filter → decontaminate →
    LM → dedup → encode).

    The batch scorer's explode + gram joins + per-doc aggregate cannot
    run on a stream (an unbounded groupBy with no watermark key), but
    the trained model is static: broadcast the counts dict once and
    score each row locally in an Arrow-batched pandas UDF — a stateless
    projection, so the plan composes with watermarks/sinks unchanged.
    Decisions agree with :func:`perplexity_filter` on the same rows
    (same cascade, same accumulation order; see
    ``test_lm_streaming_matches_batch``).  Adds ``n_tokens_lm``,
    ``perplexity`` and ``keep_lm`` columns."""
    if not stream_df.isStreaming:
        raise ValueError(
            "streaming_perplexity_filter expects a streaming DataFrame; "
            "use perplexity_filter for batch"
        )
    bc = stream_df.sparkSession.sparkContext.broadcast(counts)

    @F.pandas_udf("struct<n_tokens_lm:long,perplexity:double>")
    def _score(texts: pd.Series) -> pd.DataFrame:
        local = bc.value
        rows = [
            score_text_local(local, t if isinstance(t, str) else "", order, alpha)
            for t in texts
        ]
        return pd.DataFrame(
            {
                "n_tokens_lm": [r[0] for r in rows],
                "perplexity": [r[2] for r in rows],
            }
        )

    scored = stream_df.withColumn("__lm", _score(F.col(text_col)))
    return (
        scored.withColumn("n_tokens_lm", F.col("__lm.n_tokens_lm"))
        .withColumn("perplexity", F.col("__lm.perplexity"))
        .drop("__lm")
        .withColumn(
            "keep_lm",
            (F.col("perplexity") >= 0)
            & (F.col("perplexity") <= F.lit(max_perplexity)),
        )
    )


def perplexity_filter(
    df: DataFrame,
    counts: DataFrame,
    max_perplexity: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 3,
    alpha: float = 0.4,
) -> DataFrame:
    """CCNet-style keep/reject: documents whose LM perplexity exceeds
    ``max_perplexity`` (or that have no tokens) are marked rejected.
    Adds ``perplexity`` and ``keep`` to the input columns."""
    scores = score_documents(df, counts, id_col, text_col, order, alpha)
    return df.join(scores, id_col).withColumn(
        "keep",
        (F.col("perplexity") >= 0) & (F.col("perplexity") <= max_perplexity),
    )
