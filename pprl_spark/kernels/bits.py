"""Packed bit-vector kernels (numpy, no Spark, no bitarray).

Bit vectors are represented two ways:

* **unpacked** — ``np.ndarray`` of ``bool`` with one element per bit.  This is
  the working representation inside encoders and hardeners (vectorized
  index-scatter, slicing, XOR are all trivial).
* **packed** — ``bytes`` in MSB-first order, byte-compatible with
  ``bitarray.tobytes()`` (the reference wire format,
  /root/reference/packages/pprl_core/pprl_core/bits.py:148-175), i.e. what
  ``np.packbits`` produces.  This is the at-rest / DataFrame ``BINARY``
  representation; base64 is applied only at CSV/JSON edges.

Index semantics mirror the reference exactly
(/root/reference/packages/pprl_core/pprl_core/bits.py:20-124): a negative
index ``i`` is bit-flipped (``~i``) before being reduced modulo the vector
length.
"""

from __future__ import annotations

import base64
import math
import random
from functools import lru_cache

import numpy as np

__all__ = [
    "new_bits",
    "fold_indices",
    "set_bits",
    "test_bit",
    "double_hash_indices",
    "triple_hash_indices",
    "enhanced_double_hash_indices",
    "random_hash_indices",
    "strategy_indices",
    "optimal_size",
    "pack",
    "unpack",
    "to_base64",
    "from_base64",
    "popcount_bytes",
    "POPCOUNT_TABLE",
]

# 256-entry popcount lookup table for vectorized popcounts over uint8 buffers.
POPCOUNT_TABLE = np.array([bin(v).count("1") for v in range(256)], dtype=np.uint8)


def new_bits(m: int) -> np.ndarray:
    """Allocate an all-zero bit vector of ``m`` bits (unpacked)."""
    return np.zeros(m, dtype=bool)


def fold_indices(idx: np.ndarray | int, m: int) -> np.ndarray:
    """Map arbitrary signed integers onto valid bit positions.

    Parity: ``_compute_idx`` (reference bits.py:20-37) — negative values are
    bitwise-inverted, then everything is taken modulo ``m``.  numpy's ``%``
    matches Python's floored modulo for the (non-negative after ``~``)
    values involved.
    """
    idx = np.asarray(idx, dtype=np.int64)
    idx = np.where(idx < 0, ~idx, idx)
    return idx % m


def set_bits(bits: np.ndarray, idx: np.ndarray | int) -> None:
    """Set bits at (folded) positions in-place."""
    bits[fold_indices(idx, bits.shape[0])] = True


def test_bit(bits: np.ndarray, i: int) -> bool:
    """Test the bit at a (folded) position."""
    return bool(bits[fold_indices(i, bits.shape[0])])


def _col(h) -> np.ndarray:
    """Scalar → 0-d, ``(n,)`` → ``(n, 1)``, so ``h`` broadcasts against 1..k."""
    return np.asarray(h, dtype=np.int64)[..., None]


def double_hash_indices(k: int, h1, h2) -> np.ndarray:
    """``h1 + i*h2`` for i in 1..k (reference bits.py:67-79).

    Like every index function here: scalar hashes give ``(k,)``, ``(n,)``
    hash arrays give ``(n, k)``."""
    i = np.arange(1, k + 1, dtype=np.int64)
    return _col(h1) + i * _col(h2)


def triple_hash_indices(k: int, h1, h2, h3) -> np.ndarray:
    """``h1 + i*h2 + h3*(i*(i-1))//2`` for i in 1..k (bits.py:82-95).

    Note the reference's operator precedence: the floor-division by two
    applies to the *product* ``h3 * (i*(i-1))``.
    """
    i = np.arange(1, k + 1, dtype=np.int64)
    return _col(h1) + i * _col(h2) + (_col(h3) * (i * (i - 1))) // 2


def enhanced_double_hash_indices(k: int, h1, h2) -> np.ndarray:
    """``h1 + i*h2 + (i^3 - i)//6`` for i in 1..k (bits.py:98-110)."""
    i = np.arange(1, k + 1, dtype=np.int64)
    return _col(h1) + i * _col(h2) + (i**3 - i) // 6


@lru_cache(maxsize=1 << 16)
def _random_draws(seed: int, k: int, m: int) -> np.ndarray:
    rng = random.Random(seed)
    return np.fromiter((rng.randrange(m) for _ in range(k)), dtype=np.int64, count=k)


def random_hash_indices(k: int, seed, m: int) -> np.ndarray:
    """k draws from ``random.Random(seed).randrange(m)`` (bits.py:113-124).

    The reference seeds a Mersenne-Twister with ``i0^i1^i2^i3``
    (routers/mask.py:155-156); stdlib ``random.Random`` is used here for
    bit-exact replay.  Each distinct seed is replayed once; its draws are
    kept in a bounded cache (Zipf-distributed tokens repeat their seeds).
    """
    seeds, inverse = np.unique(np.asarray(seed, dtype=np.int64), return_inverse=True)
    draws = np.array([_random_draws(int(s), k, m) for s in seeds], dtype=np.int64).reshape(-1, k)
    return draws[inverse.reshape(np.shape(seed))]


def strategy_indices(strategy: str, k: int, h: tuple, m: int) -> np.ndarray:
    """Compute the k (folded) bit positions for one hashed token, or
    ``(n, k)`` positions for n tokens.

    ``h`` is the 4-tuple of signed int32s destructured from the digest
    (scalars, or ``(n,)`` arrays).  The argument wiring per strategy
    follows routers/mask.py:149-156.
    """
    i0, i1, i2, i3 = h
    if strategy == "double_hash":
        idx = double_hash_indices(k, i0 ^ i1, i2 ^ i3)
    elif strategy == "triple_hash":
        idx = triple_hash_indices(k, i0, i1, i2 ^ i3)
    elif strategy == "enhanced_double_hash":
        idx = enhanced_double_hash_indices(k, i0 ^ i1, i2 ^ i3)
    elif strategy == "random_hash":
        return random_hash_indices(k, i0 ^ i1 ^ i2 ^ i3, m)
    else:
        raise ValueError(f"unimplemented hash strategy `{strategy}`")
    return fold_indices(idx, m)


def optimal_size(p: float, n: float) -> int:
    """Bit-vector size such that fraction ``p`` of bits is set after ``n``
    insertions (reference bits.py:127-145, same error messages)."""
    if n <= 0:
        raise ValueError(f"amount of expected insertions must be positive, is {n}")
    if p < 0 or p >= 1:
        raise ValueError(f"percentage of set bits must be in range of [0,1), is {p}")
    return int(math.ceil(1 / (1 - math.pow(p, 1 / n))))


def pack(bits: np.ndarray) -> bytes:
    """Unpacked → packed MSB-first bytes (zero-padded to a byte boundary,
    identical to ``bitarray.tobytes()``)."""
    return np.packbits(bits).tobytes()


def unpack(data: bytes, m: int | None = None) -> np.ndarray:
    """Packed bytes → unpacked bool array.

    Without ``m`` the logical length is ``8 * len(data)`` (identical to
    ``bitarray.frombytes``); with ``m`` the trailing pad bits are dropped.
    """
    arr = np.unpackbits(np.frombuffer(data, dtype=np.uint8), count=m)
    return arr.astype(bool)


def to_base64(bits: np.ndarray) -> str:
    """Unpacked bits → base64 string of packed bytes (bits.py:148-158)."""
    return base64.b64encode(pack(bits)).decode()


def from_base64(b64str: str, m: int | None = None) -> np.ndarray:
    """Base64 string → unpacked bits (bits.py:161-175); strict validation."""
    raw = base64.b64decode(b64str.encode(), validate=True)
    return unpack(raw, m)


def popcount_bytes(buf: np.ndarray) -> np.ndarray:
    """Row-wise popcount of a 2-D uint8 matrix (one packed vector per row)."""
    return POPCOUNT_TABLE[buf].sum(axis=1, dtype=np.int64)
