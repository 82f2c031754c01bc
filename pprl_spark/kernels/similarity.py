"""Set-similarity over packed bit vectors, vectorized across pairs.

Parity: /root/reference/packages/pprl_core/pprl_core/similarity.py —
dice = 2·n12/(n1+n2), cosine = n12/√(n1·n2), jaccard = n12/(n1+n2−n12),
where n1/n2 are the popcounts and n12 the popcount of the AND.

The pairwise kernels take 2-D uint8 matrices (one packed vector per row)
and return a float64 vector — this is the Arrow-batch shape used by the
match stage's pandas UDF, so the whole batch is a handful of numpy ops.
Trailing pad bits are zero in both operands and cannot affect any count.
"""

from __future__ import annotations

import numpy as np

from .bits import popcount_bytes

__all__ = [
    "MEASURES",
    "pair_similarity",
    "similarity_from_counts",
    "stack_packed",
    "similarity_matrix",
]


def stack_packed(values) -> np.ndarray:
    """Sequence of equal-length byte strings → 2-D uint8 matrix."""
    return np.frombuffer(b"".join(values), dtype=np.uint8).reshape(len(values), -1)


def _counts(a: np.ndarray, b: np.ndarray):
    if a.shape[1] != b.shape[1]:
        raise ValueError(
            f"bit vectors must have equal length: {a.shape[1] * 8} vs {b.shape[1] * 8} bits"
        )
    n1 = popcount_bytes(a)
    n2 = popcount_bytes(b)
    n12 = popcount_bytes(a & b)
    return n1, n2, n12


# Degenerate pairs (both vectors all-zero, reachable e.g. after a
# randomized_response hardener unsets every bit) are DEFINED as 0.0 here.
# Documented deviation: the reference raises ZeroDivisionError for the same
# input (similarity.py:35-80 divides unguarded); a distributed matcher must
# not fail a 10^12-pair stage on one empty vector, and 0.0 (“no similarity
# evidence”) keeps thresholds monotone.  See SURVEY.md §2.6.


def _guarded_div(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    out = np.zeros_like(num, dtype=np.float64)
    np.divide(num, den, out=out, where=den != 0)
    return out


def similarity_from_counts(measure: str, n1, n2, n12) -> np.ndarray:
    """Similarity from popcounts: ``n1``/``n2`` of each vector and ``n12``
    of their AND.  The one copy of the measure formulas — the pairwise
    kernels and the LSH matcher's bucket scorer both call it, so their
    doubles are identical."""
    n1, n2, n12 = (np.asarray(x, dtype=np.float64) for x in (n1, n2, n12))
    if measure == "dice":
        return _guarded_div(2.0 * n12, n1 + n2)
    if measure == "cosine":
        return _guarded_div(n12, np.sqrt(n1 * n2))
    if measure == "jaccard":
        return _guarded_div(n12, n1 + n2 - n12)
    raise ValueError(f"unimplemented similarity measure `{measure}`")


def _dice(a, b):
    return similarity_from_counts("dice", *_counts(a, b))


def _cosine(a, b):
    return similarity_from_counts("cosine", *_counts(a, b))


def _jaccard(a, b):
    return similarity_from_counts("jaccard", *_counts(a, b))


MEASURES = {"dice": _dice, "cosine": _cosine, "jaccard": _jaccard}


def pair_similarity(measure: str, a_packed, b_packed) -> np.ndarray:
    """Row-aligned similarity of two sequences of packed vectors."""
    fn = MEASURES.get(measure)
    if fn is None:
        raise ValueError(f"unimplemented similarity measure `{measure}`")
    return fn(stack_packed(a_packed), stack_packed(b_packed))


def similarity_matrix(measure: str, domain_packed, range_packed) -> np.ndarray:
    """Full |D|×|R| similarity matrix (test oracle for the LSH-blocked
    matcher; reproduces the reference's crosswise loop
    routers/match.py:54-67 without the per-pair Python)."""
    fn = MEASURES.get(measure)
    if fn is None:
        raise ValueError(f"unimplemented similarity measure `{measure}`")
    d = stack_packed(domain_packed)
    r = stack_packed(range_packed)
    nd, nr = d.shape[0], r.shape[0]
    d_rep = np.repeat(d, nr, axis=0)
    r_rep = np.tile(r, (nd, 1))
    return fn(d_rep, r_rep).reshape(nd, nr)
