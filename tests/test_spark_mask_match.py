"""Spark-layer tests: encode parity with the kernel, transform chains,
crosswise/pairwise/LSH matching (LSH recall vs the crosswise oracle)."""

import numpy as np
import pytest

from pprl_spark.config import (
    AttributeTransformerConfig,
    CLKFilter,
    HashConfig,
    HashFunctionConfig,
    MaskConfig,
    MatchConfig,
    TransformConfig,
    TransformerSpec,
)
from pprl_spark.kernels import bits as bitk
from pprl_spark.kernels.encode import BloomEncoder
from pprl_spark.spark.lsh import LSHConfig
from pprl_spark.spark.mask import mask, mask_b64
from pprl_spark.spark.match import match_crosswise, match_lsh, match_pairwise, top_k_per_record
from pprl_spark.spark.transform import transform

from test_kernel_encode import ATTRS, make_persons

CFG = MaskConfig(
    filter=CLKFilter(1024, 5),
    hash=HashConfig(HashFunctionConfig(("sha256", "md5")), "double_hash"),
    token_size=2,
    padding="_",
)


@pytest.fixture(scope="module")
def persons_df(spark):
    persons = make_persons(60)
    return spark.createDataFrame(persons)


def test_spark_mask_equals_kernel_encode(spark, persons_df):
    got = {r["id"]: bytes(r["bloom"]) for r in mask(persons_df, CFG, ATTRS).collect()}
    persons = make_persons(60)
    enc = BloomEncoder(CFG, ATTRS)
    expected = dict(
        zip(
            [p["id"] for p in persons],
            enc.encode_batch([p["id"] for p in persons], {a: [p[a] for p in persons] for a in ATTRS}),
        )
    )
    assert got == expected


def test_spark_mask_b64_wire_format(spark, persons_df):
    import base64

    rows = mask_b64(persons_df, CFG, ATTRS).collect()
    assert set(rows[0].asDict()) == {"id", "value"}
    for r in rows:
        assert len(base64.b64decode(r["value"])) == 1024 // 8


def test_spark_mask_is_narrow_plan(spark, persons_df):
    plan = mask(persons_df, CFG, ATTRS)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"encode stage must not shuffle:\n{plan}"


def test_spark_transform_chain(spark):
    df = spark.createDataFrame(
        [("e1", " Fòo   bár ", "29.06.1998"), ("e2", "Müller", "01.12.2000")],
        ["id", "name", "dob"],
    )
    cfg = TransformConfig(
        attribute_transformers=(
            AttributeTransformerConfig("name", (TransformerSpec("normalization"),)),
            AttributeTransformerConfig(
                "dob",
                (TransformerSpec("date_time", input_format="%d.%m.%Y", output_format="%Y-%m-%d"),),
            ),
        ),
    )
    rows = {r["id"]: (r["name"], r["dob"]) for r in transform(df, cfg).collect()}
    assert rows["e1"] == ("foo bar", "1998-06-29")
    assert rows["e2"] == ("muller", "2000-12-01")


def test_spark_transform_global_and_empty_policy(spark):
    df = spark.createDataFrame([("e1", "A-B"), ("e2", "")], ["id", "v"])
    cfg = TransformConfig(
        empty_value="skip",
        global_before=(TransformerSpec("character_filter", characters="-"),),
        attribute_transformers=(
            AttributeTransformerConfig("v", (TransformerSpec("normalization"),)),
        ),
    )
    rows = {r["id"]: r["v"] for r in transform(df, cfg, ["v"]).collect()}
    assert rows == {"e1": "ab", "e2": ""}


def _vector_df(spark, n=40, m=256, seed=7, name="id"):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        bits = rng.random(m) < 0.35
        rows.append((f"v{i:03d}", bytearray(bitk.pack(bits))))
    return spark.createDataFrame(rows, f"{name} string, bloom binary")


def test_match_crosswise_exact_golden(spark):
    """Reference test_match.py:6-31: jaccard threshold=1 keeps only the
    identical-vector pair."""
    shared = bitk.pack(np.array([1, 0, 1, 1, 0, 0, 1, 0] * 8, dtype=bool))
    other1 = bitk.pack(np.array([1, 1, 0, 0, 1, 0, 0, 1] * 8, dtype=bool))
    other2 = bitk.pack(np.array([0, 0, 1, 0, 1, 1, 0, 0] * 8, dtype=bool))
    dom = spark.createDataFrame([("d1", bytearray(shared)), ("d2", bytearray(other1))], "id string, bloom binary")
    rng_df = spark.createDataFrame([("r1", bytearray(shared)), ("r2", bytearray(other2))], "id string, bloom binary")
    got = match_crosswise(dom, rng_df, MatchConfig("jaccard", 1.0)).collect()
    assert [(r["domain_id"], r["range_id"], r["similarity"]) for r in got] == [("d1", "r1", 1.0)]


def test_match_pairwise_by_key(spark):
    df_a = _vector_df(spark, n=10, seed=1)
    df_b = _vector_df(spark, n=10, seed=1)  # identical → sim 1.0
    got = match_pairwise(df_a, df_b, MatchConfig("dice", 1.0)).collect()
    assert len(got) == 10
    assert all(r["similarity"] == 1.0 for r in got)


def test_match_pairwise_length_guard(spark):
    df_a = _vector_df(spark, n=3, seed=1)
    df_b = _vector_df(spark, n=2, seed=2)
    with pytest.raises(ValueError) as e:
        match_pairwise(df_a, df_b, MatchConfig("dice", 0.5), check_lengths=True)
    assert str(e.value) == (
        "length of domain and range lists do not match: domain has length of 3, "
        "range has length of 2"
    )


def _near_dup_df(spark, n=60, m=512, flip=12, seed=11):
    """n/2 base vectors + n/2 near-duplicates (few bits flipped)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n // 2):
        base = rng.random(m) < 0.4
        dup = base.copy()
        flip_idx = rng.choice(m, size=flip, replace=False)
        dup[flip_idx] = ~dup[flip_idx]
        rows.append((f"a{i:03d}", bytearray(bitk.pack(base))))
        rows.append((f"b{i:03d}", bytearray(bitk.pack(dup))))
    return spark.createDataFrame(rows, "id string, bloom binary")


def test_match_lsh_recall_vs_crosswise_oracle(spark):
    df = _near_dup_df(spark)
    cfg = MatchConfig("dice", 0.9)
    oracle = {
        tuple(sorted((r["domain_id"], r["range_id"])))
        for r in match_crosswise(df, df, cfg).collect()
        if r["domain_id"] < r["range_id"]
    }
    assert len(oracle) >= 25, "fixture must contain near-duplicate pairs"
    lsh = LSHConfig(num_bits=512, num_bands=48, band_width=10, seed=5)
    got_rows = match_lsh(df, None, cfg, lsh).collect()
    got = {tuple(sorted((r["domain_id"], r["range_id"]))) for r in got_rows}
    assert got <= oracle, "LSH must not produce pairs the oracle rejects"
    recall = len(got & oracle) / len(oracle)
    assert recall == 1.0, f"LSH recall {recall:.3f} < 1.0 on fixture"


def test_match_lsh_two_sided(spark):
    df_a = _vector_df(spark, n=20, m=512, seed=3)
    cfg = MatchConfig("dice", 0.99)
    lsh = LSHConfig(num_bits=512, num_bands=32, band_width=8, seed=5)
    got = match_lsh(df_a, df_a, cfg, lsh).collect()
    # every vector collides with itself in every band → 20 self pairs
    self_pairs = [r for r in got if r["domain_id"] == r["range_id"]]
    assert len(self_pairs) == 20
    assert all(r["similarity"] == 1.0 for r in self_pairs)


def test_match_lsh_similarities_match_crosswise_values(spark):
    df = _near_dup_df(spark, n=30)
    cfg = MatchConfig("jaccard", 0.8)
    lsh = LSHConfig(num_bits=512, num_bands=40, band_width=8, seed=9)
    cross = {
        (r["domain_id"], r["range_id"]): r["similarity"]
        for r in match_crosswise(df, df, cfg).collect()
    }
    for r in match_lsh(df, None, cfg, lsh).collect():
        assert r["similarity"] == pytest.approx(cross[(r["domain_id"], r["range_id"])])


def test_match_lsh_null_ids_do_not_count_toward_bucket_cap(spark):
    """Null-id rows never pair, so they must not fill a bucket: ids a, b, c
    plus two null-id rows share every band, and a cap of 4 still keeps the
    bucket of the three real ids."""
    vec = bytearray(bitk.pack(np.random.default_rng(3).random(256) < 0.4))
    df = spark.createDataFrame(
        [("a", vec), ("b", vec), ("c", vec), (None, vec), (None, vec)],
        "id string, bloom binary",
    )
    cfg = MatchConfig("dice", 0.9)
    lsh = LSHConfig(num_bits=256, num_bands=8, band_width=8, seed=5)
    self_pairs = {
        (r["domain_id"], r["range_id"])
        for r in match_lsh(df, None, cfg, lsh, max_bucket_size=4).collect()
    }
    assert self_pairs == {("a", "b"), ("a", "c"), ("b", "c")}
    cross_pairs = {
        (r["domain_id"], r["range_id"])
        for r in match_lsh(df, df, cfg, lsh, max_bucket_size=4).collect()
    }
    assert cross_pairs == {(d, r) for d in "abc" for r in "abc"}


def _lsh_replay(dom, rng, lsh, measure, threshold, cap):
    """Straight-line LSH match: numpy band signatures, buckets as dicts,
    per-side cap, self mode ``a < b`` / cross mode dom × rng, every
    candidate scored with ``pair_similarity``."""
    from collections import defaultdict

    from pprl_spark.kernels.similarity import pair_similarity, stack_packed
    from pprl_spark.spark.lsh import band_positions, band_weights

    def buckets(rows):
        bits = np.unpackbits(stack_packed([v for _, v in rows]), axis=1, count=lsh.num_bits)
        sigs = bits[:, band_positions(lsh)].astype(np.int64) @ band_weights(lsh)
        out = defaultdict(list)
        for (i, _), row in zip(rows, sigs):
            for b, sig in enumerate(row):
                out[(b, sig)].append(i)
        return out

    def ok(ids):
        return cap is None or len(ids) <= cap

    bd = buckets(dom)
    if rng is None:
        cands = {
            (min(a, b), max(a, b))
            for ids in bd.values() if ok(ids)
            for a in ids for b in ids if a != b
        }
        rng = dom
    else:
        br = buckets(rng)
        cands = {
            (a, b)
            for key, ids in bd.items() if ok(ids) and ok(br.get(key, []))
            for a in ids for b in br.get(key, [])
        }
    cands = sorted(cands)
    vd, vr = dict(dom), dict(rng)
    sims = pair_similarity(measure, [vd[a] for a, _ in cands], [vr[b] for _, b in cands])
    return sorted((a, b, float(s)) for (a, b), s in zip(cands, sims) if s >= threshold)


def _grouped_vectors(rng, groups, n_bytes):
    """Domain and range rows ``(id, vector)``: group ``g`` = ``(n_dom,
    n_rng)`` rows whose vectors share their first half of bytes (so they
    share those bands), the rest random."""
    dom, other = [], []
    for g, sizes in enumerate(groups):
        head = rng.integers(0, 256, n_bytes // 2, dtype=np.uint8)
        for side, rows, n in zip("dr", (dom, other), sizes):
            for k in range(n):
                tail = rng.integers(0, 256, n_bytes - head.size, dtype=np.uint8)
                rows.append((f"{side}{g:02d}_{k}", np.concatenate([head, tail]).tobytes()))
    return dom, other


def test_match_lsh_bucket_walk_edges_equal_replay(spark):
    """The bucket walk against a straight-line replay, with 5-row Arrow
    batches so buckets straddle batch boundaries: cross-mode buckets
    whose per-side size is exactly the cap (kept) and cap + 1 (dropped),
    and self-mode repeated identical vectors and runs longer than a
    batch."""
    cap, n_bytes = 3, 8
    lsh = LSHConfig(num_bits=8 * n_bytes, num_bands=n_bytes, band_width=8, scheme="chunked")
    rng = np.random.default_rng(64)
    at_cap, over_dom, over_rng, single = (cap, cap), (cap + 1, 1), (1, cap + 1), (1, 1)
    dom, rng_rows = _grouped_vectors(
        rng, [at_cap] * 3 + [over_dom, over_rng] + [single] * 6, n_bytes
    )
    # a self-mode run of 3·cap rows is over the cap before it ends, so
    # the walk has to skip its rest in the next batch
    selfs, _ = _grouped_vectors(
        rng, [(cap, 0), (cap + 1, 0), (2, 0), (3 * cap, 0)] + [(1, 0)] * 8, n_bytes
    )
    twin = rng.integers(0, 256, n_bytes, dtype=np.uint8).tobytes()
    selfs += [(f"t{k}", twin) for k in range(cap)]  # identical: every band shared
    schema = "id string, bloom binary"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        cross = match_lsh(
            spark.createDataFrame(dom, schema), spark.createDataFrame(rng_rows, schema),
            MatchConfig("dice", 0.5), lsh, max_bucket_size=cap,
        ).collect()
        self_ = match_lsh(
            spark.createDataFrame(selfs, schema), None,
            MatchConfig("cosine", 0.5), lsh, max_bucket_size=cap,
        ).collect()
    finally:
        spark.conf.set(key, old)
    want_cross = _lsh_replay(dom, rng_rows, lsh, "dice", 0.5, cap)
    want_self = _lsh_replay(selfs, None, lsh, "cosine", 0.5, cap)
    assert sorted(map(tuple, cross)) == want_cross
    assert sorted(map(tuple, self_)) == want_self
    # the fixture reaches both cap edges: the at-cap groups and the twins
    # match, and the cap drops pairs of every group over it
    assert {(a[:3], b[:3]) for a, b, _ in want_cross} >= {("d00", "r00"), ("d01", "r01")}
    assert {("t0", "t1"), ("t0", "t2"), ("t1", "t2")} <= {p[:2] for p in want_self}
    for got, rows, other, measure in ((want_cross, dom, rng_rows, "dice"),
                                      (want_self, selfs, None, "cosine")):
        uncapped = _lsh_replay(rows, other, lsh, measure, 0.5, None)
        assert {a[:3] for a, _, _ in set(uncapped) - set(got)} >= (
            {"d03", "d04"} if other else {"d01", "d03"}
        )


@pytest.mark.parametrize("cap", [None, 4])
def test_bucket_walk_pair_blocks_equal_replay(monkeypatch, cap):
    """The walk in-process, with 3-pair scoring blocks and 4-row batches
    of banded rows, so hot buckets span several blocks and batches; each
    mode's deduplicated matches equal the straight-line replay."""
    import pyarrow as pa

    from pprl_spark.spark import lsh as L
    from pprl_spark.spark import match as M
    from pprl_spark.spark.lsh import band_positions, band_weights

    monkeypatch.setattr(L, "_PAIR_BLOCK", 3)
    n_bytes = 8
    lsh = LSHConfig(num_bits=8 * n_bytes, num_bands=n_bytes, band_width=8, scheme="chunked")
    dom, other = _grouped_vectors(
        np.random.default_rng(7), [(6, 5), (4, 4), (2, 7), (1, 1), (5, 0)], n_bytes
    )

    def banded(sides):
        rows = []
        for k, side in enumerate(sides):
            bits = np.unpackbits(
                np.frombuffer(b"".join(v for _, v in side), np.uint8).reshape(-1, n_bytes), axis=1
            )
            sigs = bits[:, band_positions(lsh)].astype(np.int64) @ band_weights(lsh)
            for (i, v), row in zip(side, sigs):
                ids = [i if j == k else None for j in range(len(sides))]
                rows += [(b, int(sig), k, v, *ids) for b, sig in enumerate(row)]
        rows.sort(key=lambda r: r[:3])
        names = ["band", "sig", "__side", "__v", "domain_id", "range_id"][: 4 + len(sides)]
        cols = list(zip(*rows))
        types = [pa.int32(), pa.int64(), pa.int8(), pa.binary(), *[pa.string()] * len(sides)]
        table = pa.table([pa.array(c, t) for c, t in zip(cols, types)], names=names)
        return table.to_batches(max_chunksize=4)

    for sides, measure in (([dom, other], "dice"), ([dom], "jaccard")):
        ids = ["domain_id", "range_id"][: len(sides)]
        walk = L.bucket_walk("sig", ids, cap, M._block_scorer(measure, 0.4, n_bytes, ids))
        got = {}
        for out in walk(banded(sides)):
            for a, b, sim in zip(*(c.to_pylist() for c in out.columns)):
                got[(a, b)] = sim
        want = _lsh_replay(dom, other if len(sides) == 2 else None, lsh, measure, 0.4, cap)
        assert sorted((a, b, s) for (a, b), s in got.items()) == want
        assert len(want) > 3


def test_top_k_per_record(spark):
    df = _near_dup_df(spark, n=20)
    cfg = MatchConfig("dice", 0.0)
    matches = match_crosswise(df, df, cfg)
    top1 = top_k_per_record(matches, 1).collect()
    ids = [r["domain_id"] for r in top1]
    assert len(ids) == len(set(ids)) == 20
    # with threshold 0 every record's best match is itself (sim 1.0)
    assert all(r["similarity"] == 1.0 for r in top1)
