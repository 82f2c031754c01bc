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


def test_top_k_per_record(spark):
    df = _near_dup_df(spark, n=20)
    cfg = MatchConfig("dice", 0.0)
    matches = match_crosswise(df, df, cfg)
    top1 = top_k_per_record(matches, 1).collect()
    ids = [r["domain_id"] for r in top1]
    assert len(ids) == len(set(ids)) == 20
    # with threshold 0 every record's best match is itself (sim 1.0)
    assert all(r["similarity"] == 1.0 for r in top1)
