"""Round-2 additions: JSON config serde (reference wire parity),
multi-file matching, lazy bit-vector validation, zero-denominator
similarity policy, SimHash replay parity, chunked-LSH signature parity,
generator-driven weight estimation."""

import hashlib
import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from pprl_spark.config import (
    AttributeSalt,
    AttributeTransformerConfig,
    CLKFilter,
    CLKRBFFilter,
    HardenerConfig,
    HashConfig,
    HashFunctionConfig,
    MaskConfig,
    MatchConfig,
    RBFFilter,
    StaticAttributeConfig,
    TransformConfig,
    TransformerSpec,
    WeightedAttributeConfig,
)
from pprl_spark.config_json import (
    mask_config_from_json,
    mask_config_to_json,
    match_config_from_json,
    match_config_to_json,
    transform_config_from_json,
    transform_config_to_json,
    weighted_attributes_from_json,
    weighted_attributes_to_json,
)


# ------------------------------------------------------------- JSON serde

def test_mask_config_json_round_trip_clk_with_hardeners():
    cfg = MaskConfig(
        filter=CLKFilter(512, 5),
        hash=HashConfig(HashFunctionConfig(("sha256", "md5"), key="s3cr3t"), "triple_hash"),
        token_size=3,
        padding="_",
        prepend_attribute_name=False,
        hardeners=(
            HardenerConfig("balance"),
            HardenerConfig("permute", seed=727),
            HardenerConfig("randomized_response", seed=7, probability=0.25),
            HardenerConfig("rehash", window_size=8, window_step=4, samples=2),
        ),
        attributes=(
            StaticAttributeConfig("first", salt=AttributeSalt(value="pepper")),
            StaticAttributeConfig("last", salt=AttributeSalt(attribute="first")),
        ),
    )
    assert mask_config_from_json(mask_config_to_json(cfg)) == cfg


def test_mask_config_json_round_trip_rbf_and_clkrbf():
    for flt in (RBFFilter(hash_values=4, seed=42), CLKRBFFilter(hash_values=3)):
        cfg = MaskConfig(
            filter=flt,
            hash=HashConfig(HashFunctionConfig(("sha1",)), "double_hash"),
            token_size=2,
            attributes=(
                WeightedAttributeConfig("a", weight=4.0, average_token_count=10.0),
                WeightedAttributeConfig("b", weight=1.0, average_token_count=3.0),
            ),
        )
        assert mask_config_from_json(mask_config_to_json(cfg)) == cfg


def test_mask_config_reads_reference_request_shape():
    """A hand-written reference EntityMaskRequest payload (pydantic wire
    shape, pprl_model/mask.py:123-171) must drive MaskConfig directly."""
    payload = {
        "config": {
            "token_size": 2,
            "hash": {
                "function": {"algorithms": ["sha256"], "key": None},
                "strategy": {"name": "double_hash"},
            },
            "prepend_attribute_name": True,
            "filter": {"type": "clk", "filter_size": 1024, "hash_values": 5},
            "padding": "_",
            "hardeners": [{"name": "rule_90"}],
        },
        "attributes": [{"attribute_name": "name", "salt": {"value": "x"}}],
        "entities": [{"id": "1", "attributes": {"name": "kim"}}],
    }
    cfg = mask_config_from_json(payload)
    assert cfg.filter == CLKFilter(1024, 5)
    assert cfg.hash.strategy == "double_hash"
    assert cfg.hardeners == (HardenerConfig("rule_90"),)
    assert cfg.attributes[0].salt.value == "x"


def test_match_and_transform_config_round_trips():
    mc = MatchConfig("jaccard", 0.62)
    assert match_config_from_json(match_config_to_json(mc)) == mc

    tc = TransformConfig(
        empty_value="skip",
        attribute_transformers=(
            AttributeTransformerConfig(
                "date",
                (TransformerSpec("date_time", input_format="%Y-%m-%d", output_format="%d.%m.%Y"),),
            ),
            AttributeTransformerConfig(
                "seg",
                (TransformerSpec("mapping", mapping={"A": "B"}, default_value="X", inline=False),),
            ),
        ),
        global_before=(TransformerSpec("character_filter", characters=".,"),),
        global_after=(TransformerSpec("normalization"),),
    )
    assert transform_config_from_json(transform_config_to_json(tc)) == tc


def test_transform_config_bare_shape_keeps_empty_value():
    """Regression (r2 review): the documented bare-config shape must not
    silently downgrade an explicit empty_value policy."""
    cfg = transform_config_from_json(
        {"empty_value": "error",
         "attribute_transformers": [
             {"attribute_name": "a", "transformers": [{"name": "normalization"}]}
         ]}
    )
    assert cfg.empty_value == "error"


def test_weighted_attribute_json_requires_both_fields():
    from pprl_spark.config_json import _attribute_from

    with pytest.raises(ValueError, match="requires both"):
        _attribute_from({"attribute_name": "a", "weight": 2.0})


def test_weighted_attributes_json_round_trip():
    attrs = (
        WeightedAttributeConfig("text", weight=3.5, average_token_count=41.25),
        WeightedAttributeConfig("lang", weight=1.0, average_token_count=3.0),
    )
    assert weighted_attributes_from_json(weighted_attributes_to_json(attrs)) == attrs


# -------------------------------------------------------- multi-file match

def _tiny_encoded(spark, texts, prefix):
    from pprl_spark.spark.mask import mask

    cfg = MaskConfig(
        filter=CLKFilter(256, 4),
        hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
        token_size=2,
        padding="_",
        prepend_attribute_name=False,
    )
    df = spark.createDataFrame(
        [(f"{prefix}{i}", t) for i, t in enumerate(texts)], "id string, text string"
    )
    return mask(df, cfg, ["text"])


def test_match_files_all_pairs_with_file_labels(spark):
    from pprl_spark.spark.match import match_crosswise, match_files

    frames = {
        "fa": _tiny_encoded(spark, ["anna maria", "bob jones"], "a"),
        "fb": _tiny_encoded(spark, ["anna maria", "carol ann"], "b"),
        "fc": _tiny_encoded(spark, ["bob jones"], "c"),
    }
    cfg = MatchConfig("dice", 0.8)
    got = match_files(frames, cfg).collect()
    assert set(got[0].asDict()) == {
        "domain_id", "domain_file", "range_id", "range_file", "similarity"
    }
    # files pair i<j in sorted order, never self-pairs
    pairs = {(r["domain_file"], r["range_file"]) for r in got}
    assert pairs <= {("fa", "fb"), ("fa", "fc"), ("fb", "fc")}
    # the cross-file exact duplicates are found with sim 1.0
    found = {(r["domain_id"], r["range_id"]): r["similarity"] for r in got}
    assert found[("a0", "b0")] == pytest.approx(1.0)   # anna maria in fa & fb
    assert found[("a1", "c0")] == pytest.approx(1.0)   # bob jones in fa & fc
    # and each file pair equals a direct crosswise match
    direct = match_crosswise(frames["fa"], frames["fb"], cfg).collect()
    got_ab = [r for r in got if (r["domain_file"], r["range_file"]) == ("fa", "fb")]
    assert {(r["domain_id"], r["range_id"]) for r in direct} == {
        (r["domain_id"], r["range_id"]) for r in got_ab
    }

    with pytest.raises(ValueError, match="at least two files"):
        match_files({"only": frames["fa"]}, cfg)


# --------------------------------------------------- lazy b64 validation

def test_read_bit_vector_csv_lazy_raises_on_action(spark, tmp_path):
    import base64

    from pprl_spark.io import read_bit_vector_csv

    p = tmp_path / "vec.csv"
    good = base64.b64encode(b"\xf0\x0d").decode()
    p.write_text(f"id,value\nok,{good}\nbad,@@not-base64@@\n")
    df = read_bit_vector_csv(spark, str(p))  # no job yet, no error yet
    with pytest.raises(Exception, match="invalid Base64.*bad"):
        df.collect()
    # eager mode errors at read time with the same message
    with pytest.raises(ValueError, match="invalid Base64.*bad"):
        read_bit_vector_csv(spark, str(p), validate="eager")
    # clean file decodes identically in every mode
    p2 = tmp_path / "clean.csv"
    p2.write_text(f"id,value\nok,{good}\n")
    for mode in ("lazy", "eager", "off"):
        rows = read_bit_vector_csv(spark, str(p2), validate=mode).collect()
        assert bytes(rows[0]["bloom"]) == b"\xf0\x0d"


# ------------------------------------------------- zero-denominator policy

def test_similarity_zero_vectors_defined_as_zero():
    """Documented deviation from the reference (which raises
    ZeroDivisionError, similarity.py:35-80): all-zero pairs score 0.0 and
    never NaN — a distributed matcher must not fail the stage."""
    import warnings

    from pprl_spark.kernels.similarity import pair_similarity

    zero = b"\x00" * 8
    some = b"\x0f" * 8
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any numpy divide warning fails
        for measure in ("dice", "cosine", "jaccard"):
            out = pair_similarity(measure, [zero, zero], [zero, some])
            assert out[0] == 0.0 and not np.isnan(out).any()


# ------------------------------------------------------- simhash parity

def _simhash_replay(text, q=3):
    grams = list(dict.fromkeys(text[i:i + q] for i in range(max(len(text) - q + 1, 1))))
    sums = [0] * 64
    for g in grams:
        hx = hashlib.md5(g.encode()).hexdigest()
        for j in range(64):
            sums[j] += (int(hx[j // 4], 16) >> (3 - (j % 4))) & 1
    return [1 if 2 * s >= len(grams) else 0 for s in sums]


def _simhash_replay_ints(text, q=3, chunks=8):
    """(hi, lo, chunk keys) of the replayed fingerprint; NULL text → 0s
    (md5(NULL) is NULL in SQL, so no vote passes)."""
    bits = [0] * 64 if text is None else _simhash_replay(text, q)
    width = 64 // chunks
    hi = sum(b << (31 - j) for j, b in enumerate(bits[:32]))
    lo = sum(b << (31 - j) for j, b in enumerate(bits[32:]))
    keys = [
        sum(b << (width - 1 - j) for j, b in enumerate(bits[c * width:(c + 1) * width]))
        for c in range(chunks)
    ]
    return hi, lo, keys


def test_simhash_fingerprints_match_straight_line_replay(spark):
    from pprl_spark.spark.dedup import simhash_fingerprints_udf

    texts = ["hello world", "the quick brown fox", "aaa", "x"]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {
        r["__id"]: (r["hi"], r["lo"], list(r["keys"]))
        for r in simhash_fingerprints_udf(df, "id", "text", q=3, chunks=8).collect()
    }
    for i, text in enumerate(texts):
        assert got[i] == _simhash_replay_ints(text), f"text {i}"


# ------------------------------------------------ chunked LSH parity

def test_chunked_band_signatures_jvm_equals_udf(spark):
    from pprl_spark.spark.lsh import LSHConfig, add_band_signatures, band_signatures_udf

    cfg = LSHConfig(num_bits=128, num_bands=8, band_width=16, scheme="chunked")
    rng = np.random.default_rng(9)
    rows = [(i, bytes(rng.integers(0, 256, 16, dtype=np.uint8))) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, bloom binary")
    jvm = {
        (r["id"], r["band"]): r["sig"]
        for r in add_band_signatures(df, cfg).collect()
    }
    udf_rows = df.select(
        "id", F.posexplode(band_signatures_udf(cfg)(F.col("bloom"))).alias("band", "sig")
    ).collect()
    udf = {(r["id"], r["band"]): r["sig"] for r in udf_rows}
    assert jvm == udf


def test_chunked_scheme_validation():
    from pprl_spark.spark.lsh import LSHConfig

    with pytest.raises(ValueError, match="chunked"):
        LSHConfig(num_bits=100, num_bands=8, band_width=16, scheme="chunked")
    with pytest.raises(ValueError, match="scheme"):
        LSHConfig(num_bits=128, scheme="bogus")


# ----------------------------------------------------- staged job smoke

def test_pprl_job_stages_end_to_end(spark, tmp_path):
    """The shipped staged job (jobs/pprl_job.py) runs extract → transform
    → encode → block/match → sketch on the sf0.001 documents and resumes
    as a no-op."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "pprl_job", pathlib.Path(__file__).resolve().parent.parent / "jobs" / "pprl_job.py"
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    from pprl_spark.spark.pipeline import Pipeline

    stages = job.build_stages("/root/testdata/sf0.001/documents.parquet", True, 2)
    results = Pipeline(spark, tmp_path, stages).run()
    stats = {r["stat"]: r["value"] for r in results["sketch"].collect()}
    assert stats["n_matches"] >= 1
    assert 400 <= stats["distinct_ids_hll"] <= 600  # 500 docs, HLL p=14
    # resume: identical outputs, no recompute (lineage-gated)
    again = Pipeline(spark, tmp_path, stages).run()
    assert {r["stat"]: r["value"] for r in again["sketch"].collect()} == stats


# --------------------------------------------- non-Latin transliteration

def test_to_ascii_covers_cyrillic_and_greek():
    """ADVICE r1: non-Latin scripts transliterate instead of erasing, so
    fully non-Latin values can't normalize to empty strings."""
    from pprl_spark.kernels.translit import to_ascii
    from pprl_spark.kernels.transform import normalize

    assert to_ascii("Москва") == "Moskva"
    assert to_ascii("Щёлково") == "Shchiolkovo"
    assert to_ascii("Αθήνα") == "Athena"
    assert to_ascii("ψυχή") == "psukhe"
    fn = normalize()
    assert fn("Москва") == "moskva"
    assert fn("Αθήνα") != ""


# --------------------------------------------------- weight estimation

def test_estimate_weights_generator_driven(spark):
    from pprl_spark.spark.stats import estimate_weights

    words = ["anna", "bob", "carol", "dave", "erin", "frank", "gina", "hugo"]
    gens = {
        # high-entropy attribute: varied strings
        "name": lambda i: words[i % 8] + str(i % 97),
        # low-entropy attribute: two values
        "flag": lambda i: "yes" if i % 2 else "no",
    }
    attrs = estimate_weights(spark, gens, n=400, q=2, padding="_")
    by_name = {a.attribute_name: a for a in attrs}
    assert set(by_name) == {"name", "flag"}
    assert by_name["name"].weight > by_name["flag"].weight
    assert by_name["flag"].average_token_count == pytest.approx(3.5)  # 'yes'/'no' padded bigrams
    # partition-invariant up to float-summation order (the entropy sum is
    # a parallel double reduction; exact bit equality is not promised)
    attrs2 = estimate_weights(spark, gens, n=400, q=2, padding="_", partitions=7)
    for a, b in zip(attrs, attrs2):
        assert a.weight == pytest.approx(b.weight, rel=1e-9)
        assert a.average_token_count == pytest.approx(b.average_token_count, rel=1e-12)
