"""KLL rank/quantile sketch (Karnin, Lang, Liberty 2016).

Additive rank error ≤ ε·n w.h.p. with ε ≈ 1.65/k (k = 200 → ~0.8–1.7%
depending on constant regime; BASELINE.md gates at 3·ε).  Compactors hold
items of weight 2^level; compaction sorts a full level and promotes a
random-offset half to the next level.

Merge concatenates compactors level-wise and re-compacts — associative and
commutative in distribution; estimates (not serialized states) are the
merge-invariance contract, checked within the error bound across arbitrary
partition splits.  The RNG consumes one offset bit per compaction, seeded
per sketch, so a single-threaded build is exactly reproducible.
"""

from __future__ import annotations

import random
import struct

import numpy as np

from .base import pack_header, read_header, register_sketch

__all__ = ["KLLSketch"]


@register_sketch(4)
class KLLSketch:
    INPUT = "value"  # update() consumes raw float64 values

    def __init__(self, k: int = 200, seed: int = 727):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.seed = seed
        self._rng = random.Random(seed)
        self.compactors: list[list[float]] = [[]]
        self.n = 0

    @property
    def epsilon(self) -> float:
        return 1.65 / self.k

    def _capacity(self, level: int) -> int:
        depth = len(self.compactors) - level - 1
        return max(2, int(np.ceil(self.k * (2.0 / 3.0) ** depth)))

    def _total_capacity(self) -> int:
        return sum(self._capacity(lv) for lv in range(len(self.compactors)))

    def _size(self) -> int:
        return sum(len(c) for c in self.compactors)

    def update(self, values) -> None:
        vals = np.asarray(values, dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return
        self.compactors[0].extend(vals.tolist())
        self.n += int(vals.size)
        self._compress()

    def _compress(self) -> None:
        while self._size() > self._total_capacity():
            for level in range(len(self.compactors)):
                if len(self.compactors[level]) > self._capacity(level):
                    self._compact_level(level)
                    break
            else:
                break

    def _compact_level(self, level: int) -> None:
        items = sorted(self.compactors[level])
        if level + 1 == len(self.compactors):
            self.compactors.append([])
        offset = self._rng.getrandbits(1)
        self.compactors[level + 1].extend(items[offset::2])
        self.compactors[level] = []

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if other.k != self.k:
            raise ValueError("cannot merge KLL sketches with different k")
        while len(self.compactors) < len(other.compactors):
            self.compactors.append([])
        for level, items in enumerate(other.compactors):
            self.compactors[level].extend(items)
        self.n += other.n
        self._compress()
        return self

    def _weighted_items(self):
        items, weights = [], []
        for level, c in enumerate(self.compactors):
            items.extend(c)
            weights.extend([1 << level] * len(c))
        order = np.argsort(np.asarray(items, dtype=np.float64), kind="stable")
        return (
            np.asarray(items, dtype=np.float64)[order],
            np.asarray(weights, dtype=np.int64)[order],
        )

    def quantile(self, q: float) -> float:
        if not (0 <= q <= 1):
            raise ValueError("q must be in [0, 1]")
        if self.n == 0:
            return float("nan")
        items, weights = self._weighted_items()
        cum = np.cumsum(weights)
        target = q * cum[-1]
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(items[min(idx, len(items) - 1)])

    def quantiles(self, qs) -> list[float]:
        return [self.quantile(q) for q in qs]

    def rank(self, value: float) -> float:
        """Estimated fraction of items ≤ value."""
        if self.n == 0:
            return float("nan")
        items, weights = self._weighted_items()
        mask = items <= value
        return float(weights[mask].sum() / weights.sum())

    def estimate(self):
        """Default estimate = median (interface uniformity)."""
        return self.quantile(0.5)

    def serialize(self) -> bytes:
        head = pack_header(self.TYPE_ID) + struct.pack(
            "<IqqI", self.k, self.n, self.seed, len(self.compactors)
        )
        parts = [head]
        for c in self.compactors:
            arr = np.asarray(c, dtype=np.float64)
            parts.append(struct.pack("<I", arr.size))
            parts.append(arr.tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, data: bytes) -> "KLLSketch":
        _, _, off = read_header(data)
        k, n, seed, n_levels = struct.unpack_from("<IqqI", data, off)
        off += 24
        sk = cls(k, seed)
        sk.n = n
        sk.compactors = []
        for _ in range(n_levels):
            (count,) = struct.unpack_from("<I", data, off)
            off += 4
            sk.compactors.append(
                np.frombuffer(data, dtype=np.float64, offset=off, count=count).tolist()
            )
            off += 8 * count
        if not sk.compactors:
            sk.compactors = [[]]
        return sk
