"""Sketch accuracy (published error bounds), merge associativity across
randomized splits, and serialization round-trips — no Spark."""

import math
import random

import numpy as np
import pytest

from pprl_spark.sketch import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    TDigest,
    deserialize,
)


def _hash64(values) -> np.ndarray:
    """Deterministic 64-bit hashes for local tests (stand-in for xxhash64)."""
    import hashlib

    return np.array(
        [
            int.from_bytes(hashlib.blake2b(str(v).encode(), digest_size=8).digest(), "little", signed=True)
            for v in values
        ],
        dtype=np.int64,
    )


def _random_splits(arr, n_splits, seed):
    rng = np.random.default_rng(seed)
    perm = rng.permutation(len(arr))
    return np.array_split(arr[perm], n_splits)


def _rank_error(sorted_data, est, q):
    """Distance of ``q`` from the true rank of ``est``; on ties that rank is
    the interval [searchsorted left, searchsorted right] / n."""
    n = len(sorted_data)
    lo = np.searchsorted(sorted_data, est, side="left") / n
    hi = np.searchsorted(sorted_data, est, side="right") / n
    return max(lo - q, q - hi, 0.0)


def _tree_merge(parts):
    """Merge ``parts`` pairwise, level by level, as a reduce tree does."""
    while len(parts) > 1:
        paired = [a.merge(b) for a, b in zip(parts[::2], parts[1::2])]
        parts = paired + parts[len(paired) * 2:]
    return parts[0]


# ---------------------------------------------------------------- HLL

class TestHLL:
    def test_error_within_3_sigma(self):
        n = 50_000
        hashes = _hash64(range(n))
        sk = HyperLogLog(p=14)
        sk.update(hashes)
        est = sk.estimate()
        sigma = 1.04 / math.sqrt(1 << 14)
        assert abs(est - n) / n <= 3 * sigma

    def test_duplicates_do_not_inflate(self):
        hashes = _hash64([i % 100 for i in range(10_000)])
        sk = HyperLogLog(p=12)
        sk.update(hashes)
        assert abs(sk.estimate() - 100) <= 10

    def test_small_range_linear_counting_is_tight(self):
        sk = HyperLogLog(p=14)
        sk.update(_hash64(range(50)))
        assert abs(sk.estimate() - 50) <= 2

    @pytest.mark.parametrize("p_splits", [1, 2, 7, 32])
    def test_merge_state_identical_across_splits(self, p_splits):
        hashes = _hash64(range(20_000))
        whole = HyperLogLog(p=12)
        whole.update(hashes)
        merged = HyperLogLog(p=12)
        for chunk in _random_splits(hashes, p_splits, seed=p_splits):
            part = HyperLogLog(p=12)
            part.update(chunk)
            merged.merge(part)
        assert np.array_equal(whole.registers, merged.registers)
        assert whole.serialize() == merged.serialize()

    def test_serialization_roundtrip(self):
        sk = HyperLogLog(p=10)
        sk.update(_hash64(range(1000)))
        clone = deserialize(sk.serialize())
        assert isinstance(clone, HyperLogLog)
        assert clone.estimate() == sk.estimate()
        assert np.array_equal(clone.registers, sk.registers)

    def test_merge_precision_mismatch_raises(self):
        with pytest.raises(ValueError, match="cannot merge"):
            HyperLogLog(p=10).merge(HyperLogLog(p=12))


# ---------------------------------------------------------------- CMS

class TestCMS:
    def test_point_query_bound(self):
        # zipf-ish stream of 40k items over 2k keys
        rng = random.Random(42)
        stream = [int(rng.paretovariate(1.2)) % 2000 for _ in range(40_000)]
        from collections import Counter

        exact = Counter(stream)
        sk = CountMinSketch(width=2719, depth=5)
        sk.update(_hash64(stream))
        keys = list(exact)
        ests = sk.estimate(_hash64(keys))
        n = len(stream)
        eps = sk.epsilon
        overcounts = 0
        for key, est in zip(keys, ests):
            assert est >= exact[key], "CMS must never undercount"
            if est - exact[key] > eps * n:
                overcounts += 1
        assert overcounts / len(keys) <= sk.delta + 0.01

    def test_total_exact(self):
        sk = CountMinSketch(width=64, depth=3)
        sk.update(_hash64(range(500)))
        assert sk.estimate() == 500

    @pytest.mark.parametrize("p_splits", [1, 2, 7, 32])
    def test_merge_state_identical_across_splits(self, p_splits):
        items = np.repeat(np.arange(300), 10)
        hashes = _hash64(items)
        whole = CountMinSketch(width=512, depth=4)
        whole.update(hashes)
        merged = CountMinSketch(width=512, depth=4)
        for chunk in _random_splits(hashes, p_splits, seed=p_splits):
            part = CountMinSketch(width=512, depth=4)
            part.update(chunk)
            merged.merge(part)
        assert np.array_equal(whole.table, merged.table)
        assert whole.serialize() == merged.serialize()

    def test_weighted_updates(self):
        sk = CountMinSketch(width=256, depth=4)
        h = _hash64(["a", "b"])
        sk.update(h, counts=[5, 7])
        est = sk.estimate(h)
        assert est[0] >= 5 and est[1] >= 7 and sk.estimate() == 12

    def test_serialization_roundtrip(self):
        sk = CountMinSketch(width=128, depth=3)
        sk.update(_hash64(range(100)))
        clone = deserialize(sk.serialize())
        assert np.array_equal(clone.table, sk.table) and clone.total == sk.total

    def test_from_error(self):
        sk = CountMinSketch.from_error(0.001, 0.01)
        assert sk.epsilon <= 0.001 and sk.delta <= 0.01


# ---------------------------------------------------------------- Bloom

class TestBloom:
    def test_no_false_negatives(self):
        inserted = _hash64(range(5000))
        sk = BloomFilter.for_capacity(5000, fpr=0.01)
        sk.update(inserted)
        assert sk.contains(inserted).all()

    def test_fpr_within_bound(self):
        n = 5000
        sk = BloomFilter.for_capacity(n, fpr=0.01)
        sk.update(_hash64(range(n)))
        probes = _hash64(range(10_000, 60_000))
        fpr = sk.contains(probes).mean()
        assert fpr <= 2 * max(sk.expected_fpr(), 0.01)

    def test_cardinality_estimate(self):
        n = 3000
        sk = BloomFilter.for_capacity(10_000, fpr=0.01)
        sk.update(_hash64(range(n)))
        assert abs(sk.estimate() - n) / n < 0.05

    @pytest.mark.parametrize("p_splits", [1, 2, 7, 32])
    def test_merge_state_identical_across_splits(self, p_splits):
        hashes = _hash64(range(2000))
        whole = BloomFilter(1 << 14, 4)
        whole.update(hashes)
        merged = BloomFilter(1 << 14, 4)
        for chunk in _random_splits(hashes, p_splits, seed=p_splits):
            part = BloomFilter(1 << 14, 4)
            part.update(chunk)
            merged.merge(part)
        assert np.array_equal(whole.buf, merged.buf)
        assert whole.serialize() == merged.serialize()

    def test_serialization_roundtrip(self):
        sk = BloomFilter(1 << 10, 3)
        sk.update(_hash64(range(64)))
        clone = deserialize(sk.serialize())
        assert np.array_equal(clone.buf, sk.buf)
        assert clone.contains(_hash64([1, 2, 3])).all()


# ---------------------------------------------------------------- KLL

class TestKLL:
    def test_rank_error_bound(self):
        n = 50_000
        rng = np.random.default_rng(1)
        data = rng.normal(size=n)
        sk = KLLSketch(k=200)
        sk.update(data)
        sorted_data = np.sort(data)
        for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = sk.quantile(q)
            true_rank = np.searchsorted(sorted_data, est) / n
            assert abs(true_rank - q) <= 3 * sk.epsilon, f"q={q}"

    def test_merge_estimates_within_bound(self):
        n = 40_000
        rng = np.random.default_rng(2)
        data = rng.exponential(size=n)
        whole = KLLSketch(k=200)
        whole.update(data)
        sorted_data = np.sort(data)
        for p_splits in (2, 7, 32):
            merged = KLLSketch(k=200, seed=p_splits)
            for chunk in _random_splits(data, p_splits, seed=p_splits):
                part = KLLSketch(k=200, seed=p_splits * 1000 + len(chunk))
                part.update(chunk)
                merged.merge(part)
            assert merged.n == n
            for q in (0.1, 0.5, 0.9):
                est = merged.quantile(q)
                true_rank = np.searchsorted(sorted_data, est) / n
                assert abs(true_rank - q) <= 4 * merged.epsilon

    @staticmethod
    def _partials(chunks, seed):
        parts = []
        for i, chunk in enumerate(chunks):
            part = KLLSketch(k=200, seed=seed * 1000 + i)
            part.update(chunk)
            parts.append(part)
        return parts

    def test_merge_of_contiguous_sorted_ranges_within_bound(self):
        """64 partials, each over one contiguous range of the sorted values
        (tied integers), merged in ascending and in descending order."""
        n = 40_000
        sorted_data = np.sort(np.random.default_rng(11).integers(0, 2_000, n).astype(float))
        for order in (1, -1):
            merged = KLLSketch(k=200, seed=11)
            for part in self._partials(np.array_split(sorted_data, 64)[::order], seed=order + 2):
                merged.merge(part)
            assert merged.n == n
            for q in (0.01, 0.1, 0.5, 0.9, 0.99):
                assert _rank_error(sorted_data, merged.quantile(q), q) <= 4 * merged.epsilon, (order, q)

    def test_pairwise_tree_merge_within_bound(self):
        """64 partials merged pairwise, level by level: over random splits
        and over contiguous sorted ranges of the same (tied) values."""
        n = 40_000
        data = np.random.default_rng(12).exponential(size=n).round(2)
        sorted_data = np.sort(data)
        for chunks in (_random_splits(data, 64, seed=12), np.array_split(sorted_data, 64)):
            merged = _tree_merge(self._partials(chunks, seed=12))
            assert merged.n == n
            for q in (0.01, 0.1, 0.5, 0.9, 0.99):
                assert _rank_error(sorted_data, merged.quantile(q), q) <= 4 * merged.epsilon, q

    def test_rank_query(self):
        data = np.arange(10_000, dtype=float)
        sk = KLLSketch(k=256)
        sk.update(data)
        assert abs(sk.rank(5000.0) - 0.5) <= 3 * sk.epsilon

    def test_serialization_roundtrip(self):
        sk = KLLSketch(k=128)
        sk.update(np.arange(5000, dtype=float))
        clone = deserialize(sk.serialize())
        assert clone.n == sk.n
        assert clone.quantile(0.5) == sk.quantile(0.5)

    def test_empty(self):
        assert math.isnan(KLLSketch().quantile(0.5))


# ---------------------------------------------------------------- t-digest

class TestTDigest:
    def test_quantile_error_median_and_tails(self):
        n = 50_000
        rng = np.random.default_rng(3)
        data = rng.lognormal(size=n)
        sk = TDigest(compression=100)
        sk.update(data)
        sorted_data = np.sort(data)
        # rank error: ≤0.01 at median, tighter at tails (BASELINE.md)
        for q, tol in ((0.5, 0.01), (0.01, 0.005), (0.99, 0.005), (0.999, 0.002)):
            est = sk.quantile(q)
            true_rank = np.searchsorted(sorted_data, est) / n
            assert abs(true_rank - q) <= tol, f"q={q}: rank err {abs(true_rank - q)}"

    def test_merge_estimates_within_bound(self):
        n = 30_000
        rng = np.random.default_rng(4)
        data = rng.normal(size=n)
        sorted_data = np.sort(data)
        for p_splits in (2, 7, 32):
            merged = TDigest(compression=100)
            for chunk in _random_splits(data, p_splits, seed=p_splits):
                part = TDigest(compression=100)
                part.update(chunk)
                merged.merge(part)
            assert merged.n == n
            for q, tol in ((0.5, 0.02), (0.05, 0.01), (0.95, 0.01)):
                est = merged.quantile(q)
                true_rank = np.searchsorted(sorted_data, est) / n
                assert abs(true_rank - q) <= tol

    _TOLERANCE = ((0.5, 0.02), (0.05, 0.01), (0.95, 0.01), (0.01, 0.005), (0.99, 0.005))

    @staticmethod
    def _partials(chunks):
        parts = []
        for chunk in chunks:
            part = TDigest(compression=100)
            part.update(chunk)
            parts.append(part)
        return parts

    def test_merge_of_contiguous_sorted_ranges_within_bound(self):
        """64 partials, each over one contiguous range of the sorted values
        (tied integers), merged in ascending and in descending order."""
        n = 30_000
        sorted_data = np.sort(np.random.default_rng(13).integers(0, 2_000, n).astype(float))
        for order in (1, -1):
            merged = TDigest(compression=100)
            for part in self._partials(np.array_split(sorted_data, 64)[::order]):
                merged.merge(part)
            assert merged.n == n
            for q, tol in self._TOLERANCE:
                assert _rank_error(sorted_data, merged.quantile(q), q) <= tol, (order, q)

    def test_pairwise_tree_merge_within_bound(self):
        """64 partials merged pairwise, level by level: over random splits
        and over contiguous sorted ranges of the same (tied) values."""
        n = 30_000
        data = np.random.default_rng(14).normal(size=n).round(2)
        sorted_data = np.sort(data)
        for chunks in (_random_splits(data, 64, seed=14), np.array_split(sorted_data, 64)):
            merged = _tree_merge(self._partials(chunks))
            assert merged.n == n
            for q, tol in self._TOLERANCE:
                assert _rank_error(sorted_data, merged.quantile(q), q) <= tol, q

    def test_compression_bounds_centroids(self):
        sk = TDigest(compression=100)
        sk.update(np.random.default_rng(5).random(100_000))
        sk._compress()
        assert sk.means.size <= 2 * 100

    def test_serialization_roundtrip(self):
        sk = TDigest(compression=50)
        sk.update(np.arange(10_000, dtype=float))
        clone = deserialize(sk.serialize())
        assert clone.n == sk.n
        assert clone.quantile(0.25) == pytest.approx(sk.quantile(0.25))

    def test_extremes(self):
        sk = TDigest()
        data = np.arange(1000, dtype=float)
        sk.update(data)
        assert sk.quantile(0.0) == 0.0
        assert sk.quantile(1.0) == 999.0


def _k1(compression):
    return lambda q: (compression / (2 * math.pi)) * np.arcsin(2 * np.clip(q, 0, 1) - 1)


def _replay_compress(means, weights, k):
    """TDigest._compress as it was before it was vectorized: a scalar walk
    with one evaluation of the scale function ``k`` per side for every
    element."""
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = weights.sum()
    out_means, out_weights = [], []
    cur_mean, cur_weight = means[0], weights[0]
    w_before = 0.0
    for i in range(1, means.size):
        q_left = w_before / total
        q_right = (w_before + cur_weight + weights[i]) / total
        if k(np.array([q_right]))[0] - k(np.array([q_left]))[0] <= 1.0:
            new_w = cur_weight + weights[i]
            cur_mean += (means[i] - cur_mean) * weights[i] / new_w
            cur_weight = new_w
        else:
            out_means.append(cur_mean)
            out_weights.append(cur_weight)
            w_before += cur_weight
            cur_mean, cur_weight = means[i], weights[i]
    out_means.append(cur_mean)
    out_weights.append(cur_weight)
    return np.asarray(out_means), np.asarray(out_weights)


class _ReplayTDigest:
    """TDigest's buffering and merge around ``_replay_compress``."""

    def __init__(self, compression):
        self.compression = compression
        self.means = np.empty(0)
        self.weights = np.empty(0)
        self.buf = []

    def update(self, values):
        self.buf.extend(np.asarray(values, dtype=np.float64).tolist())
        if len(self.buf) >= TDigest._BUFFER_FACTOR * self.compression:
            self.compress()

    def compress(self):
        if not self.buf and self.means.size <= self.compression:
            return
        means = np.concatenate([self.means, np.asarray(self.buf, dtype=np.float64)])
        weights = np.concatenate([self.weights, np.ones(len(self.buf))])
        self.buf = []
        if means.size:
            self.means, self.weights = _replay_compress(means, weights, _k1(self.compression))

    def merge(self, other):
        other.compress()
        self.compress()
        means = np.concatenate([self.means, other.means])
        order = np.argsort(means, kind="stable")
        self.means = means[order]
        self.weights = np.concatenate([self.weights, other.weights])[order]
        self.compress()


def _feed(sketch, data, batch):
    for lo in range(0, data.size, batch):
        sketch.update(data[lo:lo + batch])
    return sketch


_REPLAY_CASES = {
    "lognormal-80k-10k-batches": (100, lambda rng: rng.lognormal(size=80_000), 10_000),
    "rounded-normal-ties": (100, lambda rng: np.round(rng.normal(size=30_000), 1), 3_000),
    "all-equal": (100, lambda rng: np.full(5_000, 0.1), 1_000),
    "one-value": (100, lambda rng: np.array([3.5]), 1),
    "two-values": (100, lambda rng: np.array([2.0, -1.0]), 2),
    "three-values": (100, lambda rng: np.array([2.0, -1.0, 2.0]), 1),
    "compression-20": (20, lambda rng: rng.lognormal(size=20_000), 1_500),
    "compression-100": (100, lambda rng: rng.random(20_000), 1_500),
    "compression-500": (500, lambda rng: rng.standard_cauchy(20_000), 4_000),
}


@pytest.mark.parametrize("case", list(_REPLAY_CASES))
def test_tdigest_compress_equals_scalar_replay(case):
    compression, draw, batch = _REPLAY_CASES[case]
    data = draw(np.random.default_rng(11))
    sk = _feed(TDigest(compression), data, batch)
    ref = _feed(_ReplayTDigest(compression), data, batch)
    sk._compress()
    ref.compress()
    assert sk.n == data.size
    assert np.array_equal(sk.weights, ref.weights)
    np.testing.assert_allclose(sk.means, ref.means, rtol=1e-12, atol=0)


def test_tdigest_merge_of_partials_equals_scalar_replay():
    """7 partials of different sizes merged one by one: non-unit weights
    on both sides of every compress after the first."""
    rng = np.random.default_rng(12)
    parts = [rng.lognormal(size=n) for n in (40, 900, 5_000, 12_000, 3, 7_000, 250)]
    sk, ref = TDigest(100), _ReplayTDigest(100)
    for part in parts:
        sk.merge(_feed(TDigest(100), part, 2_000))
        ref.merge(_feed(_ReplayTDigest(100), part, 2_000))
        assert np.array_equal(sk.weights, ref.weights)
        np.testing.assert_allclose(sk.means, ref.means, rtol=1e-12, atol=0)
    assert (sk.weights > 1).any()
    assert sk.n == sum(p.size for p in parts)


def test_tdigest_compress_boundary_rule_where_rounding_disagrees():
    """Centroid boundaries follow the rule ``kc[i] - k_left <= 1`` even
    where ``kc[i] <= k_left + 1`` (what searchsorted compares) rounds the
    other way: once with a value the rule admits, once with one it
    rejects."""
    c_a, x_a = -0.7082320584105446, 0.29176794158945546
    c_b = 1 + 3 * 2.0 ** -52
    x_b = c_b + 1.0
    assert x_a - c_a <= 1.0 and not x_a <= c_a + 1.0
    assert not x_b - c_b <= 1.0 and x_b <= c_b + 1.0
    # k(0), then kc of the 9 sorted unit-weight values; k_left is c_a for
    # the centroid opening at value 2 and c_b for the one opening at 6
    table = np.array([c_a - 0.9, c_a - 0.5, c_a, c_a + 0.5, x_a, 0.5, c_b, 1.5, x_b, 2.5])

    class TableScale(TDigest):
        def _k(self, q):
            return table[np.rint(np.asarray(q) * (table.size - 1)).astype(int)]

    sk = TableScale(100)
    sk.update(np.arange(9, dtype=float))
    sk._compress()
    ref_means, ref_weights = _replay_compress(np.arange(9.0), np.ones(9), sk._k)
    assert sk.weights.tolist() == ref_weights.tolist() == [2, 2, 2, 1, 2]
    np.testing.assert_allclose(sk.means, ref_means, rtol=1e-12, atol=0)


def test_tdigest_constant_values_keep_their_value():
    """A centroid mean stays inside its members' range, so a run of equal
    values keeps its value exactly (0.1 summed three times and divided by
    3 does not)."""
    for v in (0.1, 3.3, 1e-7):
        sk = TDigest()
        sk.update(np.full(5_000, v))
        assert sk.quantile(0.0) == sk.quantile(0.5) == sk.quantile(1.0) == v
        assert set(sk.means.tolist()) == {v}


def test_tdigest_merge_within_budget_keeps_centroids_sorted():
    """Two digests whose centroids together fit the compression budget:
    the merged list must still be sorted (it was a bare concatenation)."""
    a, b = TDigest(), TDigest()
    a.update(np.arange(100, 140, dtype=float))
    b.update(np.arange(0, 40, dtype=float))
    a.merge(b)
    assert np.all(np.diff(a.means) >= 0)
    assert a.quantile(0.0) == 0.0
    assert a.quantile(1.0) == 139.0
    assert abs(a.quantile(0.25) - 20.0) <= 1.0
    assert abs(a.quantile(0.75) - 119.0) <= 1.0


def test_deserialize_rejects_garbage():
    with pytest.raises(ValueError, match="not a pprl_spark sketch state"):
        deserialize(b"garbage-bytes")


# ---------------------------------------------------------------- frequent
def test_frequent_items_exact_regime():
    from pprl_spark.sketch import FrequentItemsSketch

    sk = FrequentItemsSketch(capacity=8)
    data = ["a"] * 10 + ["b"] * 5 + ["c"] * 3 + ["d"]
    sk.update(data)
    assert sk.offset == 0 and sk.total == len(data)
    assert dict((i, lo) for i, lo, hi in sk.estimate()) == {
        "a": 10, "b": 5, "c": 3, "d": 1
    }
    # exact regime is partition-invariant bit-for-bit
    import random

    rng = random.Random(7)
    for n_parts in (1, 2, 7, 32):
        shuffled = data[:]
        rng.shuffle(shuffled)
        parts = [shuffled[i::n_parts] for i in range(n_parts)]
        merged = FrequentItemsSketch(capacity=8)
        for p in parts:
            s = FrequentItemsSketch(capacity=8)
            s.update(p)
            merged.merge(s)
        assert merged.estimate() == sk.estimate()
        assert merged.offset == 0


def test_frequent_items_bounds_and_heavy_hitters_zipf():
    import random
    from collections import Counter

    from pprl_spark.sketch import FrequentItemsSketch

    rng = random.Random(0xF00D)
    # zipf-ish: item i with weight ~ 1/(i+1)
    population = [f"item{i}" for i in range(500)]
    weights = [1.0 / (i + 1) for i in range(500)]
    data = rng.choices(population, weights=weights, k=20_000)
    true = Counter(data)
    cap = 32
    for n_parts in (1, 5, 32):
        parts = [data[i::n_parts] for i in range(n_parts)]
        merged = FrequentItemsSketch(capacity=cap)
        for p in parts:
            s = FrequentItemsSketch(capacity=cap)
            s.update(p)
            merged.merge(s)
        assert merged.total == len(data)
        # MG invariant: offset <= total/(capacity+1)
        assert merged.offset <= len(data) / (cap + 1)
        # bounds hold for every tracked item
        for item, lo, hi in merged.estimate():
            assert lo <= true[item] <= hi, (n_parts, item, lo, true[item], hi)
        # untracked items are bounded by the offset
        tracked = {i for i, _, _ in merged.estimate()}
        for item, c in true.items():
            if item not in tracked:
                assert c <= merged.offset
        # no-false-negative candidate set at the sketch error level
        hh = {i for i, _, _ in merged.heavy_hitters()}
        thresh = len(data) / (cap + 1)
        for item, c in true.items():
            if c > thresh:
                assert item in hh, (n_parts, item, c, thresh)


def test_frequent_items_serialization_roundtrip():
    from pprl_spark.sketch import FrequentItemsSketch, deserialize

    sk = FrequentItemsSketch(capacity=4)
    sk.update(["α", "β", "β", "γ", "δ", "ε", "ζ", "α"])  # forces compress
    rt = deserialize(sk.serialize())
    assert rt.capacity == sk.capacity
    assert rt.offset == sk.offset and rt.total == sk.total
    assert rt.estimate() == sk.estimate()
    # merging the round-trip copy doubles everything
    rt.merge(deserialize(sk.serialize()))
    assert rt.total == 2 * sk.total


def test_frequent_items_spark_column(spark):
    from pprl_spark.sketch import FrequentItemsSketch, sketch_column

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sk = sketch_column(
        events, "event_type", lambda: FrequentItemsSketch(capacity=16)
    )
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(__import__("pyspark").sql.functions.count("*").alias("n"))
        .collect()
    }
    # 5 distinct event types < capacity 16 -> exact regime
    assert sk.offset == 0
    assert {i: lo for i, lo, hi in sk.estimate()} == exact
