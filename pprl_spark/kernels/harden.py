"""Bit-vector hardeners (unpacked bool-array in, bool-array out).

Every hardener works on the last axis: a 1-D vector, or a ``(rows, m)``
matrix hardened row by row in one call (the encoder's slab).

Parity: /root/reference/packages/pprl_core/pprl_core/harden.py.  The
seeded variants replay stdlib ``random.Random`` sequences exactly; where
the draw sequence depends only on (seed, length) — permute and
randomized_response — the replay is computed once per configuration and
cached, then applied as a vectorized numpy gather/where, so per-record
work stays vectorized.
"""

from __future__ import annotations

import random
import struct
from functools import lru_cache
from typing import Callable

import numpy as np

from ..config import HardenerConfig

__all__ = [
    "balance",
    "xor_fold",
    "randomized_response",
    "permute",
    "rule_90",
    "rehash",
    "build_hardener_chain",
]

HardenerFn = Callable[[np.ndarray], np.ndarray]


def balance() -> HardenerFn:
    """Append the flipped copy: m → 2m bits, exactly 50% set
    (harden.py:21-35)."""
    def _apply(bits: np.ndarray) -> np.ndarray:
        return np.concatenate([bits, ~bits], axis=-1)

    return _apply


def xor_fold() -> HardenerFn:
    """Zero-pad to even length, XOR the halves: m → ceil(m/2)
    (harden.py:38-56)."""
    def _apply(bits: np.ndarray) -> np.ndarray:
        if bits.shape[-1] & 1:
            bits = np.concatenate([bits, np.zeros((*bits.shape[:-1], 1), dtype=bool)], axis=-1)
        half = bits.shape[-1] // 2
        return bits[..., :half] ^ bits[..., half:]

    return _apply


@lru_cache(maxsize=256)
def _rr_draws(seed: int, n: int) -> np.ndarray:
    rng = random.Random(seed)
    return np.fromiter((rng.random() for _ in range(n)), dtype=np.float64, count=n)


def randomized_response(seed: int, probability: float) -> HardenerFn:
    """Per bit: draw d; keep when d > p, else set the bit to (d < p/2)
    (harden.py:59-85).  The reference re-seeds per vector, so the draw
    sequence depends only on (seed, length) and is cached."""
    p_half = probability / 2

    def _apply(bits: np.ndarray) -> np.ndarray:
        d = _rr_draws(seed, bits.shape[-1])
        return np.where(d > probability, bits, d < p_half)

    return _apply


@lru_cache(maxsize=256)
def _permutation(seed: int, n: int) -> np.ndarray:
    """Replay the reference's swap loop (harden.py:101-104 — note
    ``j = randrange(i)``, j ∈ [0, i), *not* the uniform Fisher–Yates
    ``randrange(i+1)``) on an identity index array.  Applying the same
    swaps to indices yields ``out = bits[perm]``."""
    rng = random.Random(seed)
    perm = np.arange(n)
    for i in range(n - 1, 0, -1):
        j = rng.randrange(i)
        perm[i], perm[j] = perm[j], perm[i]
    return perm


def permute(seed: int) -> HardenerFn:
    def _apply(bits: np.ndarray) -> np.ndarray:
        return bits[..., _permutation(seed, bits.shape[-1])]

    return _apply


def rule_90() -> HardenerFn:
    """out[i] = bits[i-1] XOR bits[i+1], with the last bit as left pad and
    the first bit as right pad (harden.py:111-129)."""
    def _apply(bits: np.ndarray) -> np.ndarray:
        return np.roll(bits, 1, axis=-1) ^ np.roll(bits, -1, axis=-1)

    return _apply


def rehash(window_size: int, window_step: int, k: int) -> HardenerFn:
    """Slide a window; its bits (packed, zero-padded to 4 bytes) seed an RNG
    that draws k positions to set (harden.py:132-166).  Data-dependent, so
    a matrix is hardened one row at a time."""
    def _apply(bits: np.ndarray) -> np.ndarray:
        out = bits.copy()
        n = bits.shape[-1]
        for row, dst in zip(bits.reshape(-1, n), out.reshape(-1, n)):
            for start in range(0, n - window_size + 1, window_step):
                window = row[start : start + window_size]
                seed = struct.unpack_from("<i", np.packbits(window).tobytes() + b"\x00" * 4)[0]
                rng = random.Random(seed)
                for _ in range(k):
                    dst[rng.randrange(n)] = True
        return out

    return _apply


def build_hardener_chain(configs: tuple[HardenerConfig, ...]) -> HardenerFn:
    """Compose hardeners in config order (routers/mask.py:164-181)."""
    chain: list[HardenerFn] = []
    for cfg in configs:
        if cfg.name == "balance":
            chain.append(balance())
        elif cfg.name == "xor_fold":
            chain.append(xor_fold())
        elif cfg.name == "permute":
            chain.append(permute(cfg.seed))
        elif cfg.name == "randomized_response":
            chain.append(randomized_response(cfg.seed, cfg.probability))
        elif cfg.name == "rule_90":
            chain.append(rule_90())
        elif cfg.name == "rehash":
            chain.append(rehash(cfg.window_size, cfg.window_step, cfg.samples))
        else:
            raise ValueError(f"unimplemented hardener in `{cfg.name}`")

    def _apply(bits: np.ndarray) -> np.ndarray:
        for fn in chain:
            bits = fn(bits)
        return bits

    return _apply
