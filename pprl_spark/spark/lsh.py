"""Hamming-LSH banding over packed Bloom vectors.

The reference's matcher is a full O(|D|·|R|) crosswise nested loop
(routers/match.py:54-67) — fine for an HTTP batch, impossible at 10^12
pages.  The scale path (BASELINE.json north_star) blocks candidates with
Hamming LSH: ``b`` bands of ``r`` bit positions each; two vectors collide
in a band iff they agree on all r positions; collision probability of a
pair at Hamming similarity ``s`` is ``1-(1-s^r)^b``.  Banding turns
matching into bucketing by ``(band, signature)``: the rows of one bucket
are the candidates of each other.  :func:`walk_buckets` pairs them in
one sorted ``mapInArrow`` walk and hands the pairs to its caller
(spark/match.py scores them; spark/dedup.py's MinHash emits them and its
SimHash keeps each pair at its first agreeing chunk key).

Two position schemes:

* ``chunked`` (default for the flagship) — band ``b`` is the contiguous
  bit range ``[b·r, (b+1)·r)``.  For CLK vectors the bit positions are
  hash outputs, so contiguous chunks are statistically equivalent to
  random samples — and byte-aligned chunks make the signature a pure JVM
  expression (``conv(hex(substring(bloom, …)))``): no Python in the band
  stage, and the whole banding step is whole-stage-codegen'd.  It is also
  what makes the LSH matcher DuckDB-oracle-expressible.
* ``sampled`` — band positions drawn with a seeded RNG
  (``default_rng(seed)``), the classic scheme; needed when num_bands ×
  band_width exceeds num_bits or bands must overlap.  Signature
  computation is a vectorized Arrow UDF (bit-matrix gather).

Everything is deterministic from the config so retries and resumed runs
produce identical blocks.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

__all__ = [
    "LSHConfig",
    "band_positions",
    "band_weights",
    "band_signer",
    "band_signatures_udf",
    "add_band_signatures",
    "tag_sides",
    "bucket_walk",
    "walk_buckets",
]


@dataclass(frozen=True)
class LSHConfig:
    """``num_bands`` × ``band_width`` bit positions; see module docstring
    for the ``scheme`` semantics."""
    num_bits: int
    num_bands: int = 32
    band_width: int = 16
    seed: int = 727
    scheme: str = "sampled"

    def __post_init__(self):
        if not (1 <= self.band_width <= 62):
            raise ValueError("band_width must be in [1, 62] (signature packs into int64)")
        if self.num_bands < 1:
            raise ValueError("num_bands must be positive")
        if self.num_bits < 1:
            raise ValueError("num_bits must be positive")
        if self.scheme not in ("sampled", "chunked"):
            raise ValueError(f"unknown LSH scheme `{self.scheme}`")
        if self.scheme == "chunked" and self.num_bands * self.band_width > self.num_bits:
            raise ValueError(
                "chunked scheme requires num_bands * band_width <= num_bits"
            )

    @property
    def jvm_bands(self) -> bool:
        """Signatures are Catalyst expressions (chunked, byte-aligned
        bands); otherwise :func:`add_band_signatures` runs an Arrow UDF."""
        return self.scheme == "chunked" and self.band_width % 8 == 0


def band_positions(cfg: LSHConfig) -> np.ndarray:
    """(num_bands, band_width) bit positions, deterministic from the config."""
    if cfg.scheme == "chunked":
        return np.arange(cfg.num_bands * cfg.band_width, dtype=np.int64).reshape(
            cfg.num_bands, cfg.band_width
        )
    rng = np.random.default_rng(cfg.seed)
    return rng.integers(0, cfg.num_bits, size=(cfg.num_bands, cfg.band_width), dtype=np.int64)


def band_weights(cfg: LSHConfig) -> np.ndarray:
    """Per-position weights folding a band's bits into an int64 signature.

    ``chunked`` uses big-endian weights so the signature equals the
    integer value of the band's byte slice — the JVM expression path and
    the numpy path then produce identical values."""
    j = np.arange(cfg.band_width, dtype=np.int64)
    if cfg.scheme == "chunked":
        return np.int64(1) << (cfg.band_width - 1 - j)
    return np.int64(1) << j


def band_signer(cfg: LSHConfig):
    """numpy fold behind every band-signature UDF: a sequence of packed
    vectors → (N, num_bands) int64 signatures.

    Vectorized across the batch: unpack all vectors into an
    (N, num_bits) bit matrix once, gather the band positions, and fold
    each band's r bits into an int64 with a power-of-two dot product.
    A None vector is signed as all-zero (callers drop its bands).
    """
    positions = band_positions(cfg)
    weights = band_weights(cfg)
    n_bytes = (cfg.num_bits + 7) // 8
    zero = bytes(n_bytes)

    def sign(blooms) -> np.ndarray:
        packed = b"".join(zero if b is None else b for b in blooms)
        raw = np.frombuffer(packed, dtype=np.uint8).reshape(len(blooms), n_bytes)
        bits = np.unpackbits(raw, axis=1, count=cfg.num_bits)
        # (N, num_bands, band_width) → (N, num_bands) int64 signatures
        return bits[:, positions].astype(np.int64) @ weights

    return sign


def band_signatures_udf(cfg: LSHConfig):
    """pandas UDF: packed bloom bytes → array<long> of band signatures
    (:func:`band_signer`)."""
    sign = band_signer(cfg)

    @F.pandas_udf(ArrayType(LongType()))
    def _bands(blooms: pd.Series) -> pd.Series:
        return pd.Series(list(sign(blooms)))

    return _bands


def _chunked_jvm_signatures(cfg: LSHConfig, bloom_col: str) -> F.Column:
    """array<long> of band signatures as pure Catalyst expressions: band
    ``b`` is the integer value of bytes ``[b·w/8, (b+1)·w/8)`` of the
    packed vector (MSB-first bit order makes the byte slice exactly the
    band's bits).  Whole-stage codegen, no Python worker."""
    nb = cfg.band_width // 8
    return F.array(
        *[
            F.conv(F.hex(F.substring(F.col(bloom_col), b * nb + 1, nb)), 16, 10).cast("long")
            for b in range(cfg.num_bands)
        ]
    )


def add_band_signatures(
    df: DataFrame,
    cfg: LSHConfig,
    bloom_col: str = "bloom",
    band_col: str = "band",
    sig_col: str = "sig",
) -> DataFrame:
    """Explode each record into ``num_bands`` (band, signature) rows.

    Output carries all input columns; the (band, sig) pair is the bucket
    key for candidate generation.  A row with a null vector gets no band
    rows.  Chunked byte-aligned configs take the JVM expression path;
    everything else the Arrow-UDF gather path (both produce identical
    signatures for the same config).
    """
    if cfg.jvm_bands:
        sigs = _chunked_jvm_signatures(cfg, bloom_col)
    else:
        sigs = band_signatures_udf(cfg)(F.col(bloom_col))
    sigs = F.when(F.col(bloom_col).isNotNull(), sigs)
    return df.select("*", F.posexplode(sigs).alias(band_col, sig_col))


def tag_sides(sides: list, id_col: str, ids: list, *cols) -> DataFrame:
    """Bucket-walk input: the union of ``sides``' rows with a non-null
    ``id_col`` (null ids never pair), side ``k``'s carrying its id in
    column ``ids[k]`` (NULL in the other's), ``__side`` = ``k`` and ``cols``."""
    types = [df.select(id_col).schema[0].dataType for df in sides]

    def tagged(k: int, df: DataFrame) -> DataFrame:
        own = [F.col(id_col) if j == k else F.lit(None).cast(t) for j, t in enumerate(types)]
        return df.filter(F.col(id_col).isNotNull()).select(
            *[c.alias(n) for c, n in zip(own, ids)], F.lit(k).cast("tinyint").alias("__side"), *cols
        )

    return reduce(DataFrame.union, [tagged(k, df) for k, df in enumerate(sides)])


# pairs per block handed to a walk's caller: bounds the (pairs × row)
# gathers of an uncapped hot bucket, whose s² pairs would otherwise be
# built at once
_PAIR_BLOCK = 1 << 16


def _pair_blocks(first: np.ndarray, cnt: np.ndarray, rank: np.ndarray | None):
    """Row pairs ``(i, j)`` with ``j`` in ``[first[i], first[i] + cnt[i])``,
    in blocks of about ``_PAIR_BLOCK`` pairs (one row's pairs stay in one
    block).  Given the rows' id ``rank``, each pair puts the lower id
    first and pairs of equal ids are dropped."""
    rows = np.flatnonzero(cnt)
    done = np.cumsum(cnt[rows])
    lo = 0
    while lo < rows.size:
        upto = done[lo] - cnt[rows[lo]] + _PAIR_BLOCK
        hi = max(int(np.searchsorted(done, upto, "right")), lo + 1)
        r, c = rows[lo:hi], cnt[rows[lo:hi]]
        ii = np.repeat(r, c)
        jj = np.repeat(first[r] - (np.cumsum(c) - c), c) + np.arange(ii.size)
        if rank is not None:
            lt, distinct = rank[ii] < rank[jj], rank[ii] != rank[jj]
            ii, jj = np.where(lt, ii, jj)[distinct], np.where(lt, jj, ii)[distinct]
        yield ii, jj
        lo = hi


def bucket_walk(key: str, ids: list, cap: int | None, emit):
    """``mapInArrow`` body over :func:`tag_sides` rows sorted by (band,
    ``key``, __side); ``key`` may be an int64 signature or a string bucket.

    Each (band, ``key``) run is one bucket; a run with more than ``cap``
    rows on either side is dropped.  The pairs of the rest go to
    ``emit(batch, blocks)``, whose batches the walk yields, as row-index
    blocks ``(ii, jj)`` into ``batch``: with one id column in ``ids``
    (self mode) each row with the rows after it, lower id in ``ii``, equal
    ids dropped; with two (cross mode) side-0 × side-1 rows.  The run open
    at the end of an Arrow batch is held (one slice per batch, joined once
    when it closes) — or, once it is over the cap, no longer buffered."""
    limit = np.inf if cap is None else cap

    def runs(batch: pa.RecordBatch, starts: np.ndarray, end: int):
        """``emit``'s batches for the complete runs in ``batch[:end]``."""
        if end == 0:
            return
        side = batch.column("__side").to_numpy()[:end]
        sizes = np.diff(np.append(starts, end))
        run = np.repeat(np.arange(starts.size), sizes)
        n_dom = np.add.reduceat((side == 0).astype(np.int64), starts)
        n_rng = sizes - n_dom  # 0 in self mode
        ok = (n_dom <= limit) & (n_rng <= limit)
        if len(ids) == 2:  # each domain row pairs with its run's range rows
            first, rank = (starts + n_dom)[run], None
            cnt = np.where(side == 0, n_rng[run], 0)
        else:  # each row pairs with the rows after it in its run
            first = np.arange(1, end + 1)
            cnt = (starts + sizes)[run] - first
            rank = pc.rank(batch.column(ids[0]), tiebreaker="dense").to_numpy()
        yield from emit(batch, _pair_blocks(first, np.where(ok[run], cnt, 0), rank))

    def held_run(held: list):
        """``emit``'s batches for the closed open run held in ``held``."""
        if held:
            run = pa.Table.from_batches(held).combine_chunks().to_batches()[0]
            yield from runs(run, np.zeros(1, dtype=np.int64), run.num_rows)

    def walk(batches):
        last_key, held, n_side = None, [], np.zeros(2, dtype=np.int64)  # the open run
        for batch in batches:
            if batch.num_rows == 0:
                continue
            band = batch.column("band").to_numpy()
            sig = batch.column(key).to_numpy(zero_copy_only=False)
            side = batch.column("__side").to_numpy()
            new = np.ones(batch.num_rows, dtype=bool)
            new[1:] = (band[1:] != band[:-1]) | (sig[1:] != sig[:-1])
            new[0] = (band[0], sig[0]) != last_key
            starts = np.flatnonzero(new)
            cont = int(starts[0]) if starts.size else batch.num_rows  # rows of the open run
            if cont:
                n_side += np.bincount(side[:cont], minlength=2)
                held = [] if n_side.max() > limit else [*held, batch.slice(0, cont)]
            if starts.size == 0:
                continue
            yield from held_run(held)
            last = int(starts[-1])
            yield from runs(batch.slice(cont), starts[:-1] - cont, last - cont)
            last_key, n_side = (band[last], sig[last]), np.bincount(side[last:], minlength=2)
            held = [] if n_side.max() > limit else [batch.slice(last)]
        yield from held_run(held)

    return walk


def walk_buckets(banded: DataFrame, key: str, ids: list, cap: int | None, emit,
                 pair: list, *extra: StructField) -> DataFrame:
    """Bucket ``banded`` (:func:`tag_sides` rows with ``band`` and ``key``)
    with ONE (band, ``key``) exchange, sort each partition by (band,
    ``key``, __side) and run :func:`bucket_walk` in one ``mapInArrow``;
    output: the id pair named ``pair`` plus ``extra``, once per bucket
    that emits it (a caller whose pairs share several buckets dedups)."""
    types = [banded.schema[ids[0]].dataType, banded.schema[ids[-1]].dataType]
    schema = StructType([StructField(n, t) for n, t in zip(pair, types)] + list(extra))
    # no explicit count: AQE coalesces the shuffle partitions by size, so
    # the walk's task count follows the banded input (about
    # defaultParallelism tasks on small inputs, where each Python task's
    # fixed start-up cost dominates)
    return (
        banded.repartition("band", key)
        .sortWithinPartitions("band", key, "__side")
        .mapInArrow(bucket_walk(key, ids, cap, emit), schema)
    )
