"""Two-phase mergeable-sketch aggregation over DataFrames.

Pattern (SURVEY.md §2.8 / north_rule):

1. **Project once, hash JVM-side.**  A sketch's ``INPUT`` kind picks its
   input column from one table (``_INPUTS``): hash-based sketches
   (HLL/CMS/Bloom) consume 64-bit hashes computed with the built-in
   ``F.xxhash64`` — whole-stage codegen, no Python string hashing;
   item-identity sketches consume the string; rank sketches (KLL/t-digest)
   consume the numeric column.
2. **Partition-local partials** via one ``mapInPandas`` body
   (``_partials``): one sketch per group per partition, updated from Arrow
   batches.  This is the skew story:
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
from pyspark.sql import Column, DataFrame
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


# INPUT kind → the column a sketch's ``update`` consumes: 64-bit hashes
# for hash sketches (HLL/CMS/Bloom/theta), the item itself for
# item-identity sketches (frequent items), the number for rank sketches
# (KLL/t-digest).
_INPUTS = {
    "hash": F.xxhash64,
    "raw": lambda c: c.cast("string"),
    "value": lambda c: c.cast("double"),
}


def input_kind(sketch: Sketch) -> str:
    """``sketch.INPUT`` (``"hash"`` when absent); ValueError if unknown."""
    kind = getattr(sketch, "INPUT", "hash")
    if kind not in _INPUTS:
        raise ValueError(
            f"{type(sketch).__name__}.INPUT is {kind!r}; expected one of {sorted(_INPUTS)}"
        )
    return kind


def input_column(kind: str, column: str) -> Column:
    """``column`` projected for sketches of INPUT ``kind``, as ``__<kind>``."""
    return _INPUTS[kind](F.col(column)).alias(f"__{kind}")


def _project(df: DataFrame, column: str, kinds, group_cols=()) -> DataFrame:
    """Drop null ``column`` rows (a null contributes nothing to any of
    these sketches) and select the group columns plus one input column
    per kind in ``kinds``.

    If the input has fewer partitions than the cluster has slots (a small
    parquet table lands in 1-4 scan splits), the projection is
    repartitioned up to ``defaultParallelism`` — a shuffle of a few bytes
    per row is ~free and unlocks full-width parallel partials.  At
    production scale the scan has more splits than slots and no shuffle
    is added.  The repartition happens AFTER the projection so only the
    narrow columns move, never the source table."""
    inputs = [input_column(kind, column) for kind in _INPUTS if kind in kinds]
    return resplit(df.filter(F.col(column).isNotNull()).select(*group_cols, *inputs))


def _schema_of(df: DataFrame, cols) -> list[str]:
    types = dict(df.dtypes)
    return [f"{name} {types[name]}" for name in cols]


def _partials(df: DataFrame, column: str, factories: "dict[str, Callable[[], Sketch]]",
              group_cols=()) -> DataFrame:
    """Partition-local partials over the ``_project`` of ``column``: each
    partition updates one sketch per (group, name) from the same Arrow
    batches and emits one (group…, __sketch, __state) row per sketch, so
    the output is O(#partitions × #groups × #sketches) KB-sized rows
    whatever the data volume."""
    group_cols = list(group_cols)
    kinds = {name: input_kind(f()) for name, f in factories.items()}
    prepared = _project(df, column, kinds.values(), group_cols)

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, dict[str, Sketch]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            groups = pdf.groupby(group_cols, dropna=False, sort=False) if group_cols else [((), pdf)]
            for key, sub in groups:
                if not isinstance(key, tuple):
                    key = (key,)
                if key not in sketches:
                    sketches[key] = {name: f() for name, f in factories.items()}
                for name, sk in sketches[key].items():
                    sk.update(sub[f"__{kinds[name]}"].to_numpy())
        rows = [
            dict(zip(group_cols, key)) | {"__sketch": name, "__state": sk.serialize()}
            for key, group in sketches.items()
            for name, sk in group.items()
        ]
        if rows:
            yield pd.DataFrame(rows)

    schema = _schema_of(prepared, group_cols) + ["__sketch string", "__state binary"]
    return prepared.mapInPandas(_fn, schema=", ".join(schema))


def prepare_input(df: DataFrame, column: str, factory: Callable[[], Sketch]) -> DataFrame:
    """The input projection one ``factory()`` sketch consumes: xxhash64
    for hash sketches, string for item-identity sketches, double for rank
    sketches; null rows dropped, resplit to full width (``_project``)."""
    return _project(df, column, {input_kind(factory())})


def sketch_column(df: DataFrame, column: str, factory: Callable[[], Sketch]) -> Sketch:
    """Global (ungrouped) sketch of one column → merged Sketch object
    (``profile_column`` with one sketch)."""
    return profile_column(df, column, {"sketch": factory})["sketch"]


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

    Only meaningful for hash-input sketches (HLL/theta); others raise
    ValueError.  The exact count is the count of distinct *xxhash64
    values of the column*, collision-equal to the column's distinct count
    (p ≈ d²/2⁶⁵)."""
    if input_kind(factory()) != "hash":
        raise ValueError("sketch_column_with_exact needs a hash-input sketch (HLL, theta)")
    prepared = df.filter(F.col(column).isNotNull()).select(input_column("hash", column))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    prepared = prepared.repartition(parallelism, "__hash")

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        sk = factory()
        uniq: list = []
        for pdf in batches:
            if pdf.empty:
                continue
            vals = pdf["__hash"].to_numpy()
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
    partials = _partials(df, column, {"sketch": factory}, group_cols)
    out_schema = ", ".join(
        _schema_of(partials, group_cols) + ["state binary", f"{estimate_name} double"]
    )

    def _merge(key: tuple, pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        merged: Sketch | None = None
        for pdf in pdfs:
            for state in pdf["__state"]:
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
    sketch needs; each partition updates all sketches from the same Arrow
    batches and emits one row per sketch, so the collect stays
    O(#partitions × #sketches) KB-sized rows regardless of data volume.
    The partials (≤ one per input partition and sketch) are merged on the
    driver — at 1000 executors that is ~1000 small rows per sketch.
    """
    rows = _partials(df, column, factories).collect()
    out = {name: f() for name, f in factories.items()}
    for row in rows:
        out[row["__sketch"]].merge(deserialize(bytes(row["__state"])))
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
        _schema_of(grouped, group_cols) + ["item string", "count_lower long", "count_upper long"]
    )

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
