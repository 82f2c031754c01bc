"""Hamming-LSH banding over packed Bloom vectors.

The reference's matcher is a full O(|D|·|R|) crosswise nested loop
(routers/match.py:54-67) — fine for an HTTP batch, impossible at 10^12
pages.  The scale path (BASELINE.json north_star) blocks candidates with
Hamming LSH: ``b`` bands of ``r`` bit positions each; two vectors collide
in a band iff they agree on all r positions; collision probability of a
pair at Hamming similarity ``s`` is ``1-(1-s^r)^b``.  Banding turns
matching into bucketing by ``(band, signature)``: the rows of one bucket
are the candidates of each other (spark/match.py scores them bucket by
bucket).

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

__all__ = [
    "LSHConfig",
    "band_positions",
    "band_weights",
    "band_signatures_udf",
    "add_band_signatures",
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


def band_signatures_udf(cfg: LSHConfig):
    """pandas UDF: packed bloom bytes → array<long> of band signatures.

    Vectorized across the Arrow batch: unpack all vectors into an
    (N, num_bits) bit matrix once, gather the band positions, and fold
    each band's r bits into an int64 with a power-of-two dot product.
    """
    positions = band_positions(cfg)
    weights = band_weights(cfg)
    n_bytes = (cfg.num_bits + 7) // 8

    zero = bytes(n_bytes)  # stand-in for a null vector, whose bands are dropped

    @F.pandas_udf(ArrayType(LongType()))
    def _bands(blooms: pd.Series) -> pd.Series:
        packed = b"".join(zero if b is None else b for b in blooms)
        raw = np.frombuffer(packed, dtype=np.uint8).reshape(len(blooms), n_bytes)
        bits = np.unpackbits(raw, axis=1, count=cfg.num_bits)
        # (N, num_bands, band_width) → (N, num_bands) int64 signatures
        sampled = bits[:, positions]
        sigs = sampled.astype(np.int64) @ weights
        return pd.Series(list(sigs))

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
