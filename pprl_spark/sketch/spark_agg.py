"""Two-phase mergeable-sketch aggregation over DataFrames.

Pattern (SURVEY.md §2.8 / north_rule):

1. **Hash JVM-side.**  Hash-based sketches (HLL/CMS/Bloom) consume 64-bit
   hashes computed with the built-in ``F.xxhash64`` — whole-stage codegen,
   no Python string hashing.  Rank sketches (KLL/t-digest) consume the
   raw numeric column.
2. **Partition-local partials** via ``mapInPandas``: one sketch per group
   per partition, updated from Arrow batches.  This is the skew story:
   the shuffle that follows carries *one KB-sized state per (partition,
   group)* — a group holding half the table costs the same shuffle bytes
   as a tiny one, so hot keys (``lang='en'`` at 60%) never produce a hot
   shuffle partition.  No explicit salting needed for sketch aggs; salting
   remains for the LSH candidate join where rows (not states) shuffle.
3. **Final merge** via ``groupBy(keys).applyInPandas`` (or a driver-side
   merge of the ≤ #partitions global partials).

Associativity/commutativity of ``merge`` makes the result independent of
partitioning — tested across ``repartition(p)`` for p ∈ {1, 2, 7, 32}.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark.session import resplit
from .base import Sketch, deserialize

__all__ = [
    "sketch_column",
    "sketch_column_with_exact",
    "sketch_grouped",
    "prepare_input",
    "profile_column",
    "frequent_items",
]


def prepare_input(df: DataFrame, column: str, factory: Callable[[], Sketch]) -> DataFrame:
    """Project the sketch input column: xxhash64 for hash sketches, double
    cast for rank sketches.  Nulls are dropped (a null contributes nothing
    to any of these sketches).

    If the input has fewer partitions than the cluster has slots (a small
    parquet table lands in 1-4 scan splits), the projected 8-byte column
    is repartitioned up to ``defaultParallelism`` — an 8 B/row shuffle is
    ~free and unlocks full-width parallel partials.  At production scale
    the scan has more splits than slots and no shuffle is added.  The
    repartition happens AFTER the projection so only the hash/double
    column moves, never the source table."""
    probe = factory()
    mode = getattr(probe, "INPUT", "hash")
    if mode == "hash":
        out = df.filter(F.col(column).isNotNull()).select(
            F.xxhash64(F.col(column)).alias("__in")
        )
    elif mode == "raw":
        # item-identity sketches (frequent-items) must see the values
        out = df.filter(F.col(column).isNotNull()).select(
            F.col(column).cast("string").alias("__in")
        )
    else:
        out = df.filter(F.col(column).isNotNull()).select(
            F.col(column).cast("double").alias("__in")
        )
    return resplit(out)


def _partials_map(factory: Callable[[], Sketch], group_cols: list[str]):
    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, Sketch] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if group_cols:
                for key, sub in pdf.groupby(group_cols, dropna=False, sort=False):
                    if not isinstance(key, tuple):
                        key = (key,)
                    sk = sketches.get(key)
                    if sk is None:
                        sk = sketches[key] = factory()
                    sk.update(sub["__in"].to_numpy())
            else:
                sk = sketches.get(())
                if sk is None:
                    sk = sketches[()] = factory()
                sk.update(pdf["__in"].to_numpy())
        rows = [
            dict(zip(group_cols, key)) | {"state": sk.serialize()}
            for key, sk in sketches.items()
        ]
        if rows:
            yield pd.DataFrame(rows)

    return _fn


def sketch_column(df: DataFrame, column: str, factory: Callable[[], Sketch]) -> Sketch:
    """Global (ungrouped) sketch of one column → merged Sketch object.

    The partials (≤ one per input partition, KB each) are merged on the
    driver — at 1000 executors that is ~1000 small rows, negligible."""
    prepared = prepare_input(df, column, factory)
    partial_rows = prepared.mapInPandas(
        _partials_map(factory, []), schema="state binary"
    ).collect()
    result = factory()
    for row in partial_rows:
        result.merge(deserialize(bytes(row["state"])))
    return result


def sketch_column_with_exact(
    df: DataFrame, column: str, factory: Callable[[], Sketch]
) -> "tuple[Sketch, int]":
    """Global sketch of one column PLUS the exact distinct count, in ONE
    Spark job (one scan, one shuffle, one Python pass).

    The projected hash column is hash-partitioned **by value**, so every
    occurrence of a key lands in one partition and the per-partition
    ``nunique`` counts sum to the true global distinct count — no second
    ``countDistinct`` job over the source.  Each partition emits a single
    (state, n_distinct) row; the driver merges ≤ #partitions KB-sized
    states.  At 100 TB the shuffle carries only the 8-byte hash column and
    the key-partitioning is exactly what ``countDistinct``'s own exchange
    would do — the sketch partials ride along for free.

    Only meaningful for hash-input sketches (HLL/theta); the exact count
    is the count of distinct *xxhash64 values of the column*, collision-
    equal to the column's distinct count (p ≈ d²/2⁶⁵)."""
    prepared = df.filter(F.col(column).isNotNull()).select(
        F.xxhash64(F.col(column)).alias("__in")
    )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    prepared = prepared.repartition(parallelism, "__in")

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        sk = factory()
        uniq: list = []
        for pdf in batches:
            if pdf.empty:
                continue
            vals = pdf["__in"].to_numpy()
            sk.update(vals)
            # per-batch dedup keeps the accumulator at 8 B per distinct key
            uniq.append(np.unique(vals))
        if uniq:
            n = int(np.unique(np.concatenate(uniq)).size)
            yield pd.DataFrame([{"state": sk.serialize(), "n_distinct": n}])

    rows = prepared.mapInPandas(_fn, schema="state binary, n_distinct long").collect()
    result = factory()
    exact = 0
    for row in rows:
        result.merge(deserialize(bytes(row["state"])))
        exact += int(row["n_distinct"])
    return result, exact


def sketch_grouped(
    df: DataFrame,
    group_cols: list[str],
    column: str,
    factory: Callable[[], Sketch],
    estimate_name: str = "estimate",
) -> DataFrame:
    """Grouped sketch aggregation → DataFrame[group…, state BINARY,
    estimate DOUBLE].

    Phase 1 computes per-partition per-group partials (map-side combine);
    phase 2 shuffles only the states and merges per group."""
    probe = factory()
    mode = getattr(probe, "INPUT", "hash")
    if mode == "hash":
        in_col = F.xxhash64(F.col(column)).alias("__in")
    elif mode == "raw":
        in_col = F.col(column).cast("string").alias("__in")
    else:
        in_col = F.col(column).cast("double").alias("__in")
    prepared = df.filter(F.col(column).isNotNull()).select(*group_cols, in_col)
    # narrow (group, 8B) rows only — see prepare_input's rationale
    prepared = resplit(prepared)

    group_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in prepared.select(*group_cols).dtypes
    )
    partial_schema = f"{group_schema}, state binary"
    partials = prepared.mapInPandas(_partials_map(factory, group_cols), schema=partial_schema)

    out_schema = f"{group_schema}, state binary, {estimate_name} double"

    def _merge(key: tuple, pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        merged: Sketch | None = None
        for pdf in pdfs:
            for state in pdf["state"]:
                sk = deserialize(bytes(state))
                merged = sk if merged is None else merged.merge(sk)
        if merged is None:
            return
        try:
            est = float(merged.estimate())
        except (TypeError, ValueError):
            # item-identity sketches (frequent-items) estimate a LIST,
            # not a scalar — consumers read the state column instead
            est = float("nan")
        yield pd.DataFrame(
            [dict(zip(group_cols, key)) | {
                "state": merged.serialize(),
                estimate_name: est,
            }]
        )

    return partials.groupBy(*group_cols).applyInPandas(_merge, schema=out_schema)


def profile_column(
    df: DataFrame, column: str, factories: "dict[str, Callable[[], Sketch]]"
) -> "dict[str, Sketch]":
    """MANY sketches over one column in ONE scan — the standard
    profiling ask ("distinct count + frequencies + heavy hitters of this
    column") without one pass per sketch.

    The projection prepares every input representation any requested
    sketch needs (xxhash64 for hash sketches, raw string for
    item-identity sketches, double for rank sketches); each partition
    updates all sketches from the same Arrow batches and emits one
    (name, state) row per sketch, so the collect stays
    O(#partitions × #sketches) KB-sized rows regardless of data volume.
    """
    probes = {name: f() for name, f in factories.items()}
    modes = {name: getattr(p, "INPUT", "hash") for name, p in probes.items()}
    cols = []
    if any(m == "hash" for m in modes.values()):
        cols.append(F.xxhash64(F.col(column)).alias("__hash"))
    if any(m == "raw" for m in modes.values()):
        cols.append(F.col(column).cast("string").alias("__raw"))
    if any(m == "value" for m in modes.values()):
        cols.append(F.col(column).cast("double").alias("__value"))
    prepared = df.filter(F.col(column).isNotNull()).select(*cols)
    prepared = resplit(prepared)
    col_for = {"hash": "__hash", "raw": "__raw", "value": "__value"}

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches = {name: f() for name, f in factories.items()}
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            for name, sk in sketches.items():
                sk.update(pdf[col_for[modes[name]]].to_numpy())
        if seen:
            yield pd.DataFrame(
                [{"name": n, "state": sk.serialize()} for n, sk in sketches.items()]
            )

    rows = prepared.mapInPandas(_fn, schema="name string, state binary").collect()
    out = {name: f() for name, f in factories.items()}
    for row in rows:
        out[row["name"]].merge(deserialize(bytes(row["state"])))
    return out


def frequent_items(
    df: DataFrame,
    group_cols: "list[str]",
    column: str,
    capacity: int = 64,
    top_k: "int | None" = None,
) -> DataFrame:
    """Tidy heavy-hitters relation: one (group…, item, count_lower,
    count_upper) row per tracked item per group, from a grouped
    Misra–Gries aggregation (``count_lower ≤ true ≤ count_upper``;
    items above ``total/(capacity+1)`` per group are guaranteed
    present).  ``top_k`` truncates each group's summary after the
    deterministic (-count, item) ordering."""
    from .frequent import FrequentItemsSketch

    grouped = sketch_grouped(
        df, group_cols, column, lambda: FrequentItemsSketch(capacity=capacity)
    )
    out_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in grouped.select(*group_cols).dtypes
    ) + ", item string, count_lower long, count_upper long"

    def _explode(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for rec in pdf.to_dict("records"):
                sk = deserialize(bytes(rec["state"]))
                ests = sk.estimate()
                if top_k is not None:
                    ests = ests[:top_k]
                for item, lo, hi in ests:
                    rows.append(
                        {g: rec[g] for g in group_cols}
                        | {"item": item, "count_lower": lo, "count_upper": hi}
                    )
            if rows:
                yield pd.DataFrame(rows)

    return grouped.mapInPandas(_explode, schema=out_schema)
