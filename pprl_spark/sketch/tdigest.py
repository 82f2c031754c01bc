"""t-digest (Dunning & Ertl 2019, merging variant).

Quantile error is tail-weighted: centroid sizes are bounded by the k1
scale function k(q) = (δ/2π)·asin(2q−1), so centroids near q∈{0,1} stay
tiny while the middle coarsens.  Gate (BASELINE.md): |rank error| ≤ 0.01
at the median, tighter at the tails, for δ = 100.

Compress sorts the centroids plus the buffered values once and computes
``kc = k(cumsum(weights) / total)`` in one vector pass.  Walking left to
right, element i joins the open centroid iff ``kc[i] − k_left ≤ 1``,
where ``k_left`` is ``kc`` just before the centroid's first element (k(0)
for the first centroid); each boundary is found by ``np.searchsorted`` on
``kc``, so the Python loop runs once per output centroid (≤ ~δ), not once
per value, and means and weights come from ``np.add.reduceat``.  Cost:
one O(n log n) sort plus O(n) vector work per compress.  Weights are sums
of 1.0, so the cumulative weights — and the centroid weights — are exact.

Merge concatenates centroid lists, sorts them and re-compresses —
associative and commutative up to interpolation error; estimates are the
merge-invariance contract.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import pack_header, read_header, register_sketch

__all__ = ["TDigest"]


@register_sketch(5)
class TDigest:
    INPUT = "value"  # update() consumes raw float64 values

    _BUFFER_FACTOR = 5

    def __init__(self, compression: float = 100.0):
        if compression < 20:
            raise ValueError("compression must be >= 20")
        self.compression = float(compression)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self._buf: list[np.ndarray] = []  # pending float64 values, weight 1 each
        self._buffered = 0
        self.n = 0.0

    # ---- scale function k1 and its inverse ----

    def _k(self, q: np.ndarray) -> np.ndarray:
        return (self.compression / (2 * math.pi)) * np.arcsin(2 * np.clip(q, 0, 1) - 1)

    def update(self, values) -> None:
        vals = np.asarray(values, dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return
        self._buf.append(vals)
        self._buffered += vals.size
        self.n += float(vals.size)
        if self._buffered >= self._BUFFER_FACTOR * self.compression:
            self._compress()

    def _compress(self) -> None:
        if not self._buffered and self.means.size <= self.compression:
            return
        means = np.concatenate([self.means, *self._buf])
        weights = np.concatenate([self.weights, np.ones(self._buffered)])
        self._buf, self._buffered = [], 0
        if means.size == 0:
            return
        order = np.argsort(means, kind="stable")
        means, weights = means[order], weights[order]
        cum = np.cumsum(weights)
        kc = self._k(cum / cum[-1])

        n = means.size
        starts = [0]
        k_left = self._k(np.zeros(1))[0]
        while starts[-1] + 1 < n:
            lo = starts[-1] + 1
            # first index past the open centroid, under the rule
            # "i joins iff kc[i] - k_left <= 1"; searchsorted compares
            # kc[i] <= k_left + 1, which can round the other way by one
            end = max(lo, int(np.searchsorted(kc, k_left + 1.0, side="right")))
            while end < n and kc[end] - k_left <= 1.0:
                end += 1
            while end > lo and kc[end - 1] - k_left > 1.0:
                end -= 1
            if end == n:
                break
            starts.append(end)
            k_left = kc[end - 1]

        idx = np.asarray(starts)
        self.weights = np.add.reduceat(weights, idx)
        # clipped to its members' range, so a run of equal values keeps
        # its value exactly and ties still sort as ties on the next compress
        self.means = np.clip(
            np.add.reduceat(means * weights, idx) / self.weights,
            means[idx],
            means[np.append(idx[1:], n) - 1],
        )

    def merge(self, other: "TDigest") -> "TDigest":
        if other.compression != self.compression:
            raise ValueError("cannot merge t-digests with different compression")
        other._compress()
        self._compress()
        means = np.concatenate([self.means, other.means])
        weights = np.concatenate([self.weights, other.weights])
        # sorted here, not only in _compress: that returns early when the
        # merged list already fits in the compression budget
        order = np.argsort(means, kind="stable")
        self.means, self.weights = means[order], weights[order]
        self.n += other.n
        self._compress()
        return self

    def quantile(self, q: float) -> float:
        if not (0 <= q <= 1):
            raise ValueError("q must be in [0, 1]")
        self._compress()
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        total = self.weights.sum()
        target = q * total
        # centroid midpoints in cumulative-weight space
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            return float(self.means[0])
        if target >= cum[-1]:
            return float(self.means[-1])
        idx = int(np.searchsorted(cum, target) - 1)
        span = cum[idx + 1] - cum[idx]
        frac = (target - cum[idx]) / span if span > 0 else 0.0
        return float(self.means[idx] + frac * (self.means[idx + 1] - self.means[idx]))

    def quantiles(self, qs) -> list[float]:
        return [self.quantile(q) for q in qs]

    def estimate(self):
        return self.quantile(0.5)

    def serialize(self) -> bytes:
        self._compress()
        head = pack_header(self.TYPE_ID) + struct.pack(
            "<ddI", self.compression, self.n, self.means.size
        )
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def deserialize(cls, data: bytes) -> "TDigest":
        _, _, off = read_header(data)
        compression, n, size = struct.unpack_from("<ddI", data, off)
        off += 20
        sk = cls(compression)
        sk.n = n
        sk.means = np.frombuffer(data, dtype=np.float64, offset=off, count=size).copy()
        sk.weights = np.frombuffer(
            data, dtype=np.float64, offset=off + 8 * size, count=size
        ).copy()
        return sk
