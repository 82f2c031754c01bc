"""Streaming encode + windowed aggregation + custom stateful sketches.

``streaming_mask``: readStream → mask UDF → BINARY bloom column.  The
encode UDF is deterministic (seeded from broadcast config), so replays
after failure produce identical vectors and the parquet sink stays
exactly-once under Structured Streaming's checkpointed offsets.

``streaming_windowed_counts``: event-time tumbling-window counts with a
watermark for late data — the streaming counterpart of the batch
``events_hourly`` query.

``streaming_hll_by_key``: a CUSTOM STATEFUL operator via
``applyInPandasWithState`` — a running HyperLogLog per key whose state is
the serialized sketch.  It hashes values with the batch layer's ``hash``
input projection, and HLL registers are a max-merge, so the streaming
state after any micro-batch split is BIT-IDENTICAL to the batch sketch
over the same rows (the associativity property the batch layer tests
across repartitions carries over to time-sliced arrival).  Null values are
the exception: the batch layer drops them, here they hash to the seed.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import MaskConfig
from ..sketch import HyperLogLog
from ..sketch.spark_agg import input_column
from ..spark.mask import mask

__all__ = [
    "streaming_mask",
    "streaming_windowed_counts",
    "streaming_hll_by_key",
    "streaming_heavy_hitters_by_key",
]


def streaming_mask(
    stream_df: DataFrame,
    cfg: MaskConfig,
    attributes: list[str],
    id_col: str = "id",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Apply the Bloom encode to a streaming DataFrame (same narrow
    projection as batch — mask() builds a plain column expression, so it
    composes with streaming plans unchanged)."""
    if not stream_df.isStreaming:
        raise ValueError("streaming_mask expects a streaming DataFrame")
    return mask(stream_df, cfg, attributes, id_col=id_col,
                keep_cols=keep_cols)


def streaming_windowed_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts (late rows beyond the watermark
    are dropped; state is bounded)."""
    if not stream_df.isStreaming:
        raise ValueError("streaming_windowed_counts expects a streaming DataFrame")
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def streaming_dedup_exact(
    stream_df: DataFrame,
    content_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on a content fingerprint with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a fingerprint only while a
    duplicate could still arrive (the watermark horizon), so state size
    follows the event-time window, not the stream's history — the
    streaming counterpart of the batch ``exact_dedup`` (same two-lane
    128-bit key, so a 10^12-row stream gets the same collision margin).

    .. note:: **State-schema version 2** (the ``__k2`` lane seeds with the
       salt first — leading-salt fix, round 4).  The dedup key is part of
       the state-store contents, so checkpoints written by the v1 trailing-
       salt build are NOT compatible: rows recorded under the old key pair
       are not recognized by this build, and each previously-seen document
       would leak through once.  When upgrading across this change, restart
       the stream from a FRESH checkpoint directory (re-reading the source
       from the desired offset) rather than resuming the old one."""
    if not stream_df.isStreaming:
        raise ValueError("streaming_dedup_exact expects a streaming DataFrame")
    # Salt literal FIRST (mirrors batch exact_dedup, spark/dedup.py): Spark
    # folds multi-arg xxhash64 left-to-right with the running hash as the
    # seed, so a trailing salt (`xxhash64(content, 1)`) is a pure function
    # of the first lane — any __k1 collision would imply a __k2 collision,
    # degrading the key to 64 bits (ADVICE r3).  A LEADING salt perturbs
    # the seed before the content is hashed, giving an independent lane.
    keyed = stream_df.withColumns(
        {
            "__k1": F.xxhash64(F.col(content_col)),
            "__k2": F.xxhash64(F.lit(0x9E3779B9), F.col(content_col)),
        }
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__k1", "__k2"])
        .drop("__k1", "__k2")
    )


def streaming_hll_by_key(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    p: int = 12,
    output_mode: str = "update",
) -> DataFrame:
    """Running per-key distinct-count sketch over a stream.

    Values are hashed JVM-side (``xxhash64`` — only 8-byte hashes cross
    the Arrow boundary, same as the batch sketch layer); per key, an
    HLL(p) lives in the streaming state store as its serialized bytes and
    is updated each micro-batch.  Emits (key, estimate, n_rows_seen,
    sketch) in ``update`` mode after every batch.

    State is bounded: |keys| × (2^p + header) bytes, independent of row
    count — the property that lets this run forever on an unbounded
    stream.  At cluster scale the state store shards by key hash across
    executors exactly like a shuffle, so skewed key traffic is absorbed
    by the per-key state granularity.

    .. note:: **Checkpoint compatibility.**  Values are hashed as
       ``xxhash64(value)``, the batch layer's ``hash`` projection; earlier
       builds hashed ``xxhash64(cast(value as string))``.  The two agree
       on string columns only, so a checkpoint written by an earlier build
       over a non-string value column holds registers this build never
       sets, and its sketches no longer match the batch sketch.  For such
       streams, restart from a FRESH checkpoint directory (re-reading the
       source from the desired offset) rather than resuming the old one.
    """
    if not stream_df.isStreaming:
        raise ValueError("streaming_hll_by_key expects a streaming DataFrame")
    hashed = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        input_column("hash", value_col),
    )
    out_schema = "key string, estimate double, n_rows_seen long, sketch binary"
    state_schema = "sketch binary, n_rows_seen long"

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, seen = state.get
            hll = HyperLogLog.deserialize(bytes(blob))
        else:
            hll, seen = HyperLogLog(p=p), 0
        for pdf in pdfs:
            hll.update(pdf["__hash"].to_numpy())
            seen += len(pdf)
        blob = hll.serialize()
        state.update((blob, seen))
        yield pd.DataFrame(
            [{"key": key[0], "estimate": hll.estimate(),
              "n_rows_seen": seen, "sketch": blob}]
        )

    return hashed.groupBy("key").applyInPandasWithState(
        _update, out_schema, state_schema, output_mode, GroupStateTimeout.NoTimeout
    )


def streaming_heavy_hitters_by_key(
    stream_df: DataFrame,
    key_col: str,
    item_col: str,
    capacity: int = 64,
    top_k: int = 10,
    output_mode: str = "update",
) -> DataFrame:
    """Running per-key frequent-items (Misra–Gries) summary over a
    stream — "top URLs per language", "top event types per user shard" —
    the item-identity sibling of :func:`streaming_hll_by_key`.

    Per key, a capacity-bounded :class:`~pprl_spark.sketch.frequent.
    FrequentItemsSketch` lives in the state store as its serialized
    bytes; each micro-batch folds its items in and emits the current
    top-``top_k`` (item, lower-bound count) pairs plus the global error
    offset, so a consumer can reconstruct ``[lower, lower+offset]``
    bounds for every reported item.  State is bounded: |keys| ×
    O(capacity) bytes, independent of stream length — the MG guarantee
    (any item with frequency > n/(capacity+1) is present) holds at every
    emission because the summary is mergeable across micro-batches
    exactly as across partitions (sketch/frequent.py)."""
    if not stream_df.isStreaming:
        raise ValueError(
            "streaming_heavy_hitters_by_key expects a streaming DataFrame"
        )
    from ..sketch.frequent import FrequentItemsSketch

    projected = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(item_col).cast("string").alias("__item"),
    )
    out_schema = (
        "key string, top_items array<struct<item: string, count_lower: long>>, "
        "error_offset long, n_rows_seen long, sketch binary"
    )
    state_schema = "sketch binary, n_rows_seen long"

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, seen = state.get
            sk = FrequentItemsSketch.deserialize(bytes(blob))
        else:
            sk, seen = FrequentItemsSketch(capacity=capacity), 0
        for pdf in pdfs:
            items = pdf["__item"]
            sk.update(items[items.notna()].tolist())
            seen += len(pdf)
        blob = sk.serialize()
        state.update((blob, seen))
        top = [
            {"item": item, "count_lower": lo}
            for item, lo, _hi in sk.estimate()[:top_k]
        ]
        yield pd.DataFrame(
            [{
                "key": key[0],
                "top_items": top,
                "error_offset": sk.offset,
                "n_rows_seen": seen,
                "sketch": blob,
            }]
        )

    return projected.groupBy("key").applyInPandasWithState(
        _update, out_schema, state_schema, output_mode, GroupStateTimeout.NoTimeout
    )
