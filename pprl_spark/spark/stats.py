"""Weight-estimation statistics (reference pprl_client lib.py:88-162).

Spark-native shapes:
* average distinct-token count → ``avg(size(tokens))`` (lib.py:103-109)
* token frequencies → ``explode(tokens) → groupBy(token).count()``
  (lib.py:112-119); at web scale the count-min sketch UDAF
  (:mod:`pprl_spark.sketch`) replaces the exact relation
* n-gram Shannon entropy → ``-sum(p * log2(p))`` over the frequency
  relation (lib.py:122-130)
* per-attribute stats → WeightedAttributeConfig(weight=entropy,
  average_token_count=avg) (lib.py:133-162)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import WeightedAttributeConfig
from .textstats import bind_once

__all__ = [
    "padded_qgram_tokens",
    "qgram_windows",
    "with_tokens",
    "token_frequencies",
    "average_token_count",
    "ngram_entropy",
    "compute_attribute_stats",
    "estimate_weights",
]


def qgram_windows(col, q: int = 2, padding: str = "_"):
    """ALL padded q-gram windows (duplicates kept) — the explode feed for
    consumers that count every occurrence.  :func:`padded_qgram_tokens`
    is the per-row distinct set of the same windows."""
    col = F.col(col) if isinstance(col, str) else col
    pad = F.lit(padding * (q - 1))
    padded = F.concat(pad, col, pad)
    # NULL input short-circuits to NULL (not the empty array): explode
    # drops it, and aggregates like avg(size(tokens)) must EXCLUDE null
    # rows, matching the former UDF tokenizer's semantics — an empty
    # array would count them as 0 tokens and shift estimated weights on
    # nullable columns (ADVICE r2).
    # The inner when() guards sequence()'s descending-range behavior when
    # the padded value is shorter than q (possible with empty padding):
    # the reference tokenizer returns the empty set there.  ``padded`` is
    # bound once per row (textstats.bind_once): as a free subtree the
    # concat would re-run at EVERY window — O(len²) per value.
    return F.when(
        col.isNull(), F.lit(None).cast("array<string>")
    ).otherwise(
        bind_once(
            padded,
            lambda p: F.when(
                F.length(p) >= q,
                F.transform(
                    F.sequence(F.lit(1), F.length(p) - (q - 1)),
                    lambda i: F.substring(p, i, q),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )


def padded_qgram_tokens(col, q: int = 2, padding: str = "_"):
    """Distinct padded q-grams as a pure Catalyst expression — the
    reference tokenizer's set semantics (common.py:9-28: pad ``(q-1)``
    copies of ``padding`` on both sides, slide a window of ``q``, dedup)
    with no Python worker.  ``array_distinct`` keeps the q-grams in
    first-occurrence order; NULL input gives NULL.  Bit-exact parity for
    the *encode* path stays with kernels.tokenize (asserted by unit
    tests); this expression feeds the order-insensitive statistics
    aggregates."""
    return F.array_distinct(qgram_windows(col, q, padding))


def with_tokens(df: DataFrame, column: str, q: int = 2, padding: str = "_",
                tokens_col: str = "tokens") -> DataFrame:
    return df.withColumn(tokens_col, padded_qgram_tokens(F.col(column), q, padding))


def token_frequencies(df: DataFrame, column: str, q: int = 2, padding: str = "_") -> DataFrame:
    """Exact global q-gram frequencies with the reference's set semantics
    (each record contributes 1 per DISTINCT token, lib.py:112-119).

    Plan: per-record dedup INSIDE the row (padded_qgram_tokens is
    already distinct), explode, and a plain count with map-side partial
    aggregation — the shuffle carries one row per (partition, token).
    The r2-era shape exploded raw windows and ran countDistinct over a
    synthetic record id, shuffling every (record, token) pair (~7M slim
    rows at sf1.0, r6 measured 2.2 s → 0.7 s); explode(array_distinct)
    was avoided back then because GenerateExec re-evaluated its child
    per OUTPUT row — on Spark 4.1.2 it evaluates once per INPUT row
    (re-measured r5, see dedup.qgram_raw_windows), so the per-row dedup
    is linear and the distinct aggregation is unnecessary."""
    toks = df.select(
        F.explode(padded_qgram_tokens(F.col(column), q, padding)).alias("token")
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))


def average_token_count(df: DataFrame, column: str, q: int = 2, padding: str = "_") -> float:
    row = (
        with_tokens(df, column, q, padding)
        .agg(F.avg(F.size("tokens")).alias("avg_tokens"))
        .collect()[0]
    )
    return float(row["avg_tokens"])


def ngram_entropy(df: DataFrame, column: str, q: int = 2, padding: str = "_") -> float:
    """Shannon entropy −Σ p·log2 p over the token frequency relation
    (lib.py:122-130), computed in a single aggregation via
    H = log2(N) − (Σ f·log2 f)/N so no second pass for the total."""
    freq = token_frequencies(df, column, q, padding)
    row = freq.agg(
        F.sum("freq").alias("n"),
        F.sum(F.col("freq") * F.log2("freq")).alias("flogf"),
    ).collect()[0]
    n, flogf = float(row["n"]), float(row["flogf"])
    import math

    return math.log2(n) - flogf / n


def compute_attribute_stats(
    df: DataFrame, attributes: list[str], q: int = 2, padding: str = "_"
) -> list[WeightedAttributeConfig]:
    """Per-attribute (entropy → weight, avg distinct tokens) configs
    (lib.py:133-162).  One pass per attribute; each is two hash
    aggregations, no cross-attribute shuffle coupling."""
    out = []
    for attr in attributes:
        avg = average_token_count(df, attr, q, padding)
        ent = ngram_entropy(df, attr, q, padding)
        out.append(WeightedAttributeConfig(attr, weight=ent, average_token_count=avg))
    return out


def estimate_weights(
    spark,
    generators: "dict[str, object]",
    n: int,
    q: int = 2,
    padding: str = "_",
    transform_cfg=None,
    partitions: int | None = None,
) -> list[WeightedAttributeConfig]:
    """Generator-driven weight estimation — the reference's ``estimate
    gecko/faker`` commands (pprl_client cli.py:428-563): synthesize ``n``
    records from per-attribute generators, optionally run the transform
    chain over them, then estimate (weight=entropy, avg_token_count) per
    attribute for RBF/CLKRBF configs.

    ``generators`` maps attribute name → a deterministic pure function
    ``int -> str`` of the global row index, so generation distributes over
    ``spark.range(n)`` with no driver-side materialization and is
    partition-invariant (same property as fixtures.make_pages; replaces
    the reference's seeded Faker/Gecko single-process generators)."""
    from typing import Iterator

    names = list(generators)
    gens = dict(generators)
    schema = ", ".join(f"{name} string" for name in names)

    def _gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {name: [gens[name](int(i)) for i in pdf["id"]] for name in names}
            )

    base = spark.range(n)
    if partitions:
        base = base.repartition(partitions)
    df = base.mapInPandas(_gen, schema=schema)
    if transform_cfg is not None:
        from .transform import transform

        df = transform(df, transform_cfg, names)
    return compute_attribute_stats(df, names, q, padding)
