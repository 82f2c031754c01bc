"""Deterministic hash-based sampling and splits.

``df.sample()`` draws from a per-partition RNG: the result changes with
partitioning, task retries, and Spark versions — unusable for a
reproducible 100 TB training-data pipeline.  The standard remedy is
content-keyed hashing: a row is in the sample iff
``hash(key) mod M < fraction·M`` — stable under any partitioning, any
retry, any cluster size, and streamable (no count pass, no state).

The hash is the md5-derived lane used across the dedup family (one md5,
first 8 hex digits mod 2^31−1) — JVM-side, and bit-reproducible in the
DuckDB oracle, unlike xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket",
    "hash_sample",
    "hash_split",
    "stratified_sample",
    "mixture_rates",
    "mixture_sample",
]

_MOD = 2_147_483_647  # 2^31 − 1, matches dedup's md5 lane


def hash_bucket(key: Column | str, num_buckets: int = 1_000_000,
                salt: str = "") -> Column:
    """Deterministic bucket in [0, num_buckets) from a row key: md5 of
    (salt ∥ key), first 8 hex digits mod 2^31−1, mod num_buckets.  The
    ``salt`` decouples independent decisions (e.g. a sample drawn after
    a split must not correlate with the split)."""
    key = F.col(key) if isinstance(key, str) else key
    lane = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10
    ).cast("long") % F.lit(_MOD)
    # NULL keys propagate NULL (md5(NULL) → NULL) — callers get a NULL
    # bucket, NOT a silent assignment.  hash_sample's `<` predicate then
    # drops NULL-key rows; hash_split turns NULL buckets into a NULL
    # split index (ADVICE r3: previously every `when` was NULL and the
    # `otherwise` silently dumped NULL keys into the LAST split).
    return (lane % F.lit(num_buckets)).cast("int")


def hash_sample(df: DataFrame, key: Column | str, fraction: float,
                salt: str = "") -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by the key hash — reproducible
    and partition-independent.  Same key ⇒ same decision, so sampling by
    a user/document id keeps entities intact (no half-sampled groups)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    buckets = 1_000_000
    return df.where(hash_bucket(key, buckets, salt) < int(fraction * buckets))


def hash_split(df: DataFrame, key: Column | str, weights: list[float],
               salt: str = "", split_col: str = "split") -> DataFrame:
    """Append a deterministic split index column (0..len(weights)−1) with
    the given proportions — train/val/test splits that survive recompute,
    repartition, and incremental appends (a new row lands in the same
    split forever).

    A NULL key gets a NULL split index (consistent with ``hash_sample``,
    which drops NULL-key rows) — the caller must decide what a keyless
    row means; silently assigning it to a split would skew the last
    split's proportion (ADVICE r3)."""
    if any(w < 0 for w in weights) or abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must be non-negative and sum to 1, got {weights}")
    buckets = 1_000_000
    b = hash_bucket(key, buckets, salt)
    expr = None
    upper = 0.0
    for i, w in enumerate(weights[:-1]):
        upper += w
        cond = b < int(upper * buckets)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    expr = (F.lit(len(weights) - 1) if expr is None
            else expr.otherwise(len(weights) - 1))
    # guard BEFORE the otherwise-branch: a NULL bucket must not fall
    # through to the last split
    expr = F.when(b.isNull(), F.lit(None)).otherwise(expr)
    return df.withColumn(split_col, expr.cast("int"))


def stratified_sample(
    df: DataFrame,
    group_col: Column | str,
    key: Column | str,
    k: int,
    salt: str = "",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Exactly ``min(k, |group|)`` rows per group, chosen and ORDERED by
    the content-keyed md5 lane — the balanced-per-stratum sample (k docs
    per language/domain) that survives recompute, repartition, and
    retries.  Appends ``rank_col`` (1..k within the group, lane order).

    One window: rank rows within each group by ``(lane(key), key)`` and
    keep rank <= k.  For k up to
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default)
    Spark's ``InferWindowGroupLimit`` puts a partial per-group top-k
    below the exchange, so at most k rows per group and map task are
    shuffled.  NULL group or key rows are dropped (consistent
    with ``hash_sample``'s NULL policy).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    group_col = F.col(group_col) if isinstance(group_col, str) else group_col
    keyc = F.col(key) if isinstance(key, str) else key
    from pyspark.sql import Window

    win = Window.partitionBy("__grp").orderBy("__lane", keyc.cast("string"))
    return (
        df.where(group_col.isNotNull() & keyc.isNotNull())
        .withColumn("__lane", hash_bucket(keyc, _MOD, salt))
        .withColumn("__grp", group_col)
        .withColumn(rank_col, F.row_number().over(win))
        .where(F.col(rank_col) <= k)
        .drop("__lane", "__grp")
    )


def mixture_rates(
    counts: "list[tuple]", alpha: float, target_fraction: float
) -> "dict":
    """Per-group keep rates for :func:`mixture_sample` — exact
    waterfilling of the temperature-``alpha`` mixture.

    Group g with n_g rows gets sampled mass proportional to n_g**alpha
    (alpha=1 → proportional/no-op; alpha=0 → uniform across groups;
    the 0.3-0.7 range is the usual multilingual-LLM rebalance), scaled
    so the expected overall kept fraction equals ``target_fraction``.
    Rates cap at 1.0; the capped groups' shortfall is re-spread over
    the uncapped ones (iterating at most len(counts) times — exact, not
    approximate).  Driver-side math over the per-group count table (a
    few thousand rows at worst), returning {group: rate}.
    """
    if not 0.0 < target_fraction <= 1.0:
        raise ValueError(
            f"target_fraction must be in (0, 1], got {target_fraction}"
        )
    if alpha < 0.0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    total = sum(n for _, n in counts)
    budget = target_fraction * total
    live = {g: (n, float(n) ** alpha) for g, n in counts}
    rates: dict = {}
    while live:
        wsum = sum(w for _, w in live.values())
        if wsum <= 0.0:
            for g in live:
                rates[g] = 0.0
            break
        scale = budget / wsum
        capped = {g for g, (n, w) in live.items() if scale * w >= n}
        if not capped:
            for g, (n, w) in live.items():
                rates[g] = scale * w / n
            break
        for g in capped:
            n, _ = live.pop(g)
            rates[g] = 1.0
            budget -= n
    return rates


def mixture_sample(
    df: DataFrame,
    group_col: Column | str,
    key: Column | str,
    alpha: float = 0.7,
    target_fraction: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-based mixture rebalancing: hash-sample each group at
    the rate :func:`mixture_rates` assigns (count^alpha waterfilling) —
    the domain/language up/down-weighting step of a training-mixture
    build, with the same deterministic content-keyed decisions as
    :func:`hash_sample` (same key ⇒ same decision across recompute,
    repartition, and appends at fixed rates).

    Scale shape: one tiny groupBy-count aggregate (collected — one row
    per group, the only driver-side data ever moved), rates waterfilled
    exactly on the driver, then ONE map-side filter: per-group
    thresholds ship as a literal map for few groups, or as a
    broadcast-hash-joined threshold table beyond 1000 groups (a
    million-entry literal would bloat the plan; either way df itself
    never shuffles).  NULL groups are dropped (consistent with
    ``stratified_sample``'s NULL policy).
    """
    group_col = F.col(group_col) if isinstance(group_col, str) else group_col
    counts = [
        (r["__g"], r["__n"])
        for r in df.select(group_col.alias("__g"))
        .where(F.col("__g").isNotNull())
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    ]
    rates = mixture_rates(counts, alpha, target_fraction)
    buckets = 1_000_000
    lane = hash_bucket(key, buckets, salt)
    if len(rates) <= 1000:
        thresholds = F.create_map(
            *[
                x
                for g, rate in sorted(rates.items(), key=lambda kv: str(kv[0]))
                for x in (F.lit(g), F.lit(int(rate * buckets)))
            ]
        )
        return df.where(lane < F.coalesce(thresholds[group_col], F.lit(-1)))
    thr = df.sparkSession.createDataFrame(
        [(g, int(rate * buckets)) for g, rate in rates.items()],
        ["__g", "__thr"],
    )
    return (
        df.join(F.broadcast(thr), group_col == F.col("__g"))
        .where(lane < F.col("__thr"))
        .drop("__g", "__thr")
    )
