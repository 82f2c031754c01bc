"""Round-3 additions: positional pairwise parity (reference list-zip
semantics), match method wire-field dispatch, file-order preservation,
bucket-cap plan shape, and NULL token semantics (VERDICT r2 #5/#7,
ADVICE r2)."""

import base64
import csv
import json

import numpy as np
import pytest

from pprl_spark.config import MatchConfig
from pprl_spark.config_json import match_config_from_json, match_config_to_json
from pprl_spark.kernels import bits as bitk
from pprl_spark.kernels.similarity import pair_similarity
from pprl_spark.spark.match import match_files, match_lsh, match_pairwise


def _vectors(n, m=128, seed=3):
    rng = np.random.default_rng(seed)
    return [bitk.pack(rng.random(m) < 0.4) for _ in range(n)]


# ------------------------------------------------------- positional pairwise

def test_match_pairwise_positional_reproduces_reference_zip(spark):
    """Reference pairwise zips domain[i] with range[i] by LIST POSITION
    (routers/match.py:76-87) regardless of ids; align='position' must
    reproduce that pairing exactly for CSV users who rely on row order."""
    vecs_a, vecs_b = _vectors(8, seed=5), _vectors(8, seed=9)
    # deliberately non-matching, non-sorted ids: key alignment would pair
    # nothing / the wrong rows
    ids_a = [f"x{7 - i}" for i in range(8)]
    ids_b = [f"y{i * 3 % 8}" for i in range(8)]
    dom = spark.createDataFrame(
        list(zip(ids_a, [bytearray(v) for v in vecs_a])), "id string, bloom binary"
    )
    rng_df = spark.createDataFrame(
        list(zip(ids_b, [bytearray(v) for v in vecs_b])), "id string, bloom binary"
    )
    got = {
        (r["domain_id"], r["range_id"]): r["similarity"]
        for r in match_pairwise(dom, rng_df, MatchConfig("dice", 0.0), align="position").collect()
    }
    expected_sims = pair_similarity("dice", vecs_a, vecs_b)
    expected = {
        (ids_a[i], ids_b[i]): float(expected_sims[i]) for i in range(8)
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k])


def test_match_pairwise_positional_survives_a_coalesced_shuffle(spark):
    """Each side is numbered from one fixed set of partitions, even when
    the input ends in a shuffle that AQE coalesces by bytes.  A position
    index whose partition sizes come from a separate count query would
    see that query prune the wide column below the shuffle and coalesce
    it into fewer partitions than the rows it numbers."""
    from pyspark.sql import functions as F

    # 128 KiB of sha2 output per row: shuffle sizes count compressed bytes
    wide = F.expr(
        "unhex(concat_ws('', transform(sequence(1, 4096), i -> sha2(concat(id, ':', i), 256))))"
    )
    df = (
        spark.range(0, 64, 1, 4)
        .select(F.col("id").cast("string").alias("id"), wide.alias("bloom"))
        .repartition("id")
        .sortWithinPartitions("id")
    )
    assert df.select("id").rdd.getNumPartitions() < df.rdd.getNumPartitions()
    got = match_pairwise(df, df, MatchConfig("dice", 0.0), align="position")
    pairs = sorted((r["domain_id"], r["range_id"]) for r in got.collect())
    assert pairs == sorted((str(i), str(i)) for i in range(64))


def test_match_pairwise_positional_always_checks_lengths(spark):
    dom = spark.createDataFrame(
        [("a", bytearray(_vectors(1)[0]))], "id string, bloom binary"
    )
    rng_df = spark.createDataFrame(
        [("b", bytearray(_vectors(1)[0])), ("c", bytearray(_vectors(1)[0]))],
        "id string, bloom binary",
    )
    with pytest.raises(ValueError, match="length of domain and range lists do not match"):
        match_pairwise(dom, rng_df, MatchConfig("dice", 0.0), align="position")


def test_match_pairwise_rejects_unknown_align(spark):
    df = spark.createDataFrame([("a", bytearray(b"\x01"))], "id string, bloom binary")
    with pytest.raises(ValueError, match="unknown align mode"):
        match_pairwise(df, df, MatchConfig("dice", 0.0), align="list")


# ------------------------------------------------------ method wire field

def test_match_config_json_parses_and_roundtrips_method():
    cfg = match_config_from_json(
        {"config": {"measure": "jaccard", "threshold": 0.4, "method": "pairwise"}}
    )
    assert cfg.method == "pairwise"
    assert match_config_from_json(match_config_to_json(cfg)) == cfg
    # reference default (pprl_model/match.py:23): missing method = crosswise
    assert match_config_from_json({"config": {"measure": "dice", "threshold": 0.5}}).method == "crosswise"


def test_match_config_rejects_unknown_method():
    with pytest.raises(ValueError, match="unimplemented match method"):
        MatchConfig("dice", 0.5, method="blockwise")


# --------------------------------------------------- match_files semantics

def test_match_files_preserves_caller_order(spark):
    """Reference CLI pairs files in command-line order (cli.py:209-213):
    a non-alphabetical dict must keep the given order for the domain/range
    side assignment (ADVICE r2)."""
    vecs = _vectors(2)
    frames = {
        name: spark.createDataFrame(
            [(f"{name}{i}", bytearray(v)) for i, v in enumerate(vecs)],
            "id string, bloom binary",
        )
        for name in ("zz", "aa")  # reverse-alphabetical insertion order
    }
    got = match_files(frames, MatchConfig("dice", 0.0)).collect()
    assert {(r["domain_file"], r["range_file"]) for r in got} == {("zz", "aa")}


def test_match_files_pairwise_method_zips_by_position(spark):
    vecs = _vectors(3, seed=21)
    frames = {
        "f1": spark.createDataFrame(
            [(f"p{i}", bytearray(v)) for i, v in enumerate(vecs)],
            "id string, bloom binary",
        ),
        "f2": spark.createDataFrame(
            [(f"q{i}", bytearray(v)) for i, v in enumerate(vecs)],
            "id string, bloom binary",
        ),
    }
    got = match_files(frames, MatchConfig("dice", 0.9, method="pairwise")).collect()
    # identical vectors zip positionally → 3 pairs, all sim 1.0
    assert {(r["domain_id"], r["range_id"]) for r in got} == {
        ("p0", "q0"), ("p1", "q1"), ("p2", "q2")
    }
    assert all(r["similarity"] == pytest.approx(1.0) for r in got)
    assert all((r["domain_file"], r["range_file"]) == ("f1", "f2") for r in got)


def test_cli_match_pairwise_dispatch(spark, tmp_path):
    """A reference user's pairwise request file must run pairwise, not
    crosswise (ADVICE r2 medium)."""
    from pprl_spark import cli

    vecs = _vectors(3, seed=33)
    for name, prefix in (("va.csv", "a"), ("vb.csv", "b")):
        with open(tmp_path / name, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["id", "value"])
            for i, v in enumerate(vecs):
                w.writerow([f"{prefix}{i}", base64.b64encode(bytes(v)).decode()])
    (tmp_path / "match.json").write_text(
        json.dumps({"config": {"measure": "dice", "threshold": 0.0, "method": "pairwise"}})
    )
    out = tmp_path / "matches.csv"
    cli.main([
        "match", str(tmp_path / "match.json"),
        str(tmp_path / "va.csv"), str(tmp_path / "vb.csv"), str(out),
    ])
    with open(out, newline="") as fh:
        rows = list(csv.DictReader(fh))
    # pairwise on identical vector lists = the positional zip, 3 rows
    assert {(r["domain_id"], r["range_id"]) for r in rows} == {
        ("a0", "b0"), ("a1", "b1"), ("a2", "b2")
    }
    with pytest.raises(ValueError, match="at least two vector files"):
        cli.main([
            "match", str(tmp_path / "match.json"), str(tmp_path / "va.csv"), str(out),
        ])


# -------------------------------------------------------- bucket-cap plan

def test_match_lsh_bucket_cap_has_no_sort(spark):
    """The bucket cap must not be a window (a window adds Exchange+Sort
    over all banded rows — VERDICT r2 #1): it is applied inside the bucket
    walk, and the plan's aggregate is the pair dedup."""
    from pprl_spark.spark.lsh import LSHConfig

    rng = np.random.default_rng(7)
    rows = [(f"v{i}", bytearray(bitk.pack(rng.random(256) < 0.5))) for i in range(40)]
    df = spark.createDataFrame(rows, "id string, bloom binary")
    out = match_lsh(
        df, None, MatchConfig("dice", 0.8),
        LSHConfig(num_bits=256, num_bands=16, band_width=16, scheme="chunked"),
        max_bucket_size=10,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # the only sort is the bucket walk's per-partition (band, sig) sort
    assert "HashAggregate" in plan


# --------------------------------------------- generator-driven estimate

FAKER_CONFIG = {
    "seed": 727,
    "count": 400,
    "locale": ["de_DE"],
    "generators": [
        {"function_name": "first_name_nonbinary", "attribute_name": "given_name"},
        {"function_name": "last_name", "attribute_name": "last_name"},
        {
            "function_name": "random_element",
            "attribute_name": "gender",
            "args": {"elements": ["m", "f"]},
        },
        {"function_name": "postcode", "attribute_name": "postcode"},
    ],
}


def test_cli_estimate_faker_config_runs_unmodified(spark, tmp_path):
    """A reference FakerGeneratorConfig file drives the estimate flow
    end-to-end (VERDICT r2 #10) and yields the reference output shape —
    a JSON list of weighted attribute configs, null salts omitted."""
    from pprl_spark import cli

    (tmp_path / "faker.json").write_text(json.dumps(FAKER_CONFIG))
    out = tmp_path / "weights.json"
    cli.main(["estimate", "faker", str(tmp_path / "faker.json"), str(out)])
    got = json.loads(out.read_text())
    assert [a["attribute_name"] for a in got] == [
        "given_name", "last_name", "gender", "postcode"
    ]
    for a in got:
        assert set(a) == {"attribute_name", "weight", "average_token_count"}
        assert a["weight"] > 0 and a["average_token_count"] > 0
    # binary attribute has far lower entropy than a name attribute
    by_name = {a["attribute_name"]: a for a in got}
    assert by_name["gender"]["weight"] < by_name["given_name"]["weight"]


def test_cli_estimate_gecko_frequency_table(spark, tmp_path):
    """Gecko from_frequency_table draws from the ACTUAL csv when present,
    frequency-weighted; multicolumn tables keep attributes jointly
    consistent per row."""
    from pprl_spark import cli

    (tmp_path / "names.csv").write_text(
        "given_name,gender,count\nanna,f,80\nbob,m,15\ncarol,f,5\n"
    )
    cfg = {
        "seed": 11,
        "count": 300,
        "generators": [
            {
                "attribute_names": ["given_name", "gender"],
                "function_name": "from_multicolumn_frequency_table",
                "args": {
                    "csv_file_path": str(tmp_path / "names.csv"),
                    "value_columns": ["given_name", "gender"],
                    "freq_column": "count",
                },
            },
            {
                "attribute_names": ["last_name"],
                "function_name": "from_frequency_table",
                "args": {
                    "csv_file_path": str(tmp_path / "missing.csv"),  # fallback path
                    "value_column": "last_name",
                    "freq_column": "count",
                },
            },
        ],
    }
    (tmp_path / "gecko.json").write_text(json.dumps(cfg))
    out = tmp_path / "weights.json"
    cli.main(["estimate", "gecko", str(tmp_path / "gecko.json"), str(out)])
    got = {a["attribute_name"]: a for a in json.loads(out.read_text())}
    assert set(got) == {"given_name", "gender", "last_name"}
    assert all(a["average_token_count"] > 0 for a in got.values())


def test_gecko_frequency_sampling_is_weighted_and_joint():
    from pprl_spark.generator_configs import generators_from_config

    cfg = {
        "seed": 5,
        "count": 2000,
        "generators": [
            {
                "attribute_names": ["name", "gender"],
                "function_name": "from_multicolumn_frequency_table",
                "args": {
                    "csv_file_path": "",  # filled below
                    "value_columns": ["name", "gender"],
                    "freq_column": "count",
                },
            }
        ],
    }
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".csv", delete=False) as fh:
        fh.write("name,gender,count\nanna,f,90\nbob,m,10\n")
        path = fh.name
    cfg["generators"][0]["args"]["csv_file_path"] = path
    _, gens = generators_from_config(cfg, "gecko")
    draws = [(gens["name"](i), gens["gender"](i)) for i in range(2000)]
    # joint consistency: anna is always f, bob always m
    assert set(draws) <= {("anna", "f"), ("bob", "m")}
    frac_anna = sum(1 for d in draws if d[0] == "anna") / len(draws)
    assert 0.85 <= frac_anna <= 0.95  # 90% weight, deterministic seed
    # determinism across calls
    assert [gens["name"](i) for i in range(50)] == [gens["name"](i) for i in range(50)]


# ----------------------------------------------- real image header parsing

def test_png_jpeg_header_parsers_golden():
    """Builder→parser round trips over the dimension/channel space,
    including >255 dims (both big-endian bytes live) and progressive
    JPEG (SOF2)."""
    from pprl_spark.fixtures import make_jpeg_bytes, make_png_bytes
    from pprl_spark.spark.multimodal import parse_jpeg_header, parse_png_header

    assert parse_png_header(make_png_bytes(256, 300, 2)) == (256, 300, 3)
    assert parse_png_header(make_png_bytes(17, 19, 0)) == (17, 19, 1)
    assert parse_png_header(make_png_bytes(1000, 2, 6)) == (1000, 2, 4)
    assert parse_jpeg_header(make_jpeg_bytes(640, 480, 3)) == (640, 480, 3)
    assert parse_jpeg_header(make_jpeg_bytes(300, 256, 1, progressive=True)) == (300, 256, 1)


def test_png_fixture_is_structurally_valid():
    """The PNG fixture must be a complete spec-conformant file: correct
    chunk CRCs and a zlib IDAT whose decompressed size matches the
    raster (height × (1 filter byte + width × channels))."""
    import struct
    import zlib

    from pprl_spark.fixtures import make_png_bytes

    b = make_png_bytes(20, 10, 2)
    # IHDR CRC
    assert struct.unpack(">I", b[29:33])[0] == zlib.crc32(b[12:29]) & 0xFFFFFFFF
    ln = struct.unpack(">I", b[33:37])[0]
    assert b[37:41] == b"IDAT"
    assert len(zlib.decompress(b[41:41 + ln])) == 10 * (1 + 20 * 3)
    assert b[-8:-4] == b"IEND"


# ------------------------------------------------------- NULL token rows

def test_avg_token_count_excludes_null_rows(spark):
    """NULL attribute values must be excluded from avg(size(tokens)), not
    counted as 0 tokens (ADVICE r2: the former UDF returned NULL)."""
    from pprl_spark.spark.stats import average_token_count, padded_qgram_tokens

    df = spark.createDataFrame(
        [("ab",), (None,), ("ab",)], "val string"
    )
    # 'ab' with q=2 padding '_' → _a, ab, b_ → 3 tokens; null excluded → avg 3
    assert average_token_count(df, "val", q=2, padding="_") == pytest.approx(3.0)
    toks = df.select(padded_qgram_tokens("val", 2, "_").alias("t")).collect()
    assert [r["t"] for r in toks] == [["_a", "ab", "b_"], None, ["_a", "ab", "b_"]]
