"""Round-4 regression tests: ADVICE r3 fixes + the fused sketch/exact
aggregation (VERDICT r3 #2)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE r3 (medium): streaming dedup key lanes must be independent
# ---------------------------------------------------------------------------

def test_streaming_dedup_key_lanes_match_batch(spark):
    """The streaming dedup's second key lane must be the batch
    exact_dedup construction — salt literal FIRST (`xxhash64(salt,
    content)`), not `xxhash64(content, salt)` which Spark folds as a pure
    function of the first lane (seeded by the running hash)."""
    df = spark.createDataFrame([("abc",), ("xyz",)], "text string")
    rows = df.select(
        F.xxhash64(F.lit(0x9E3779B9), F.col("text")).alias("lead_salt"),
        F.xxhash64(F.col("text"), F.lit(0x9E3779B9)).alias("trail_salt"),
        F.xxhash64(F.col("text")).alias("k1"),
        F.xxhash64(F.xxhash64(F.col("text"))).alias("nested"),
    ).collect()
    for r in rows:
        # trailing salt IS a function of k1 alone — this asserts the trap
        # is real on this Spark version (if it ever stops holding, the
        # comment in encode_stream.py should be revisited, not the code)
        assert r["lead_salt"] != r["trail_salt"]

    # the streaming source actually uses the leading-salt form
    import inspect

    from pprl_spark.streaming import encode_stream

    src = inspect.getsource(encode_stream.streaming_dedup_exact)
    assert "F.xxhash64(F.lit(0x9E3779B9), F.col(content_col))" in src


# ---------------------------------------------------------------------------
# ADVICE r3: hash_split / hash_sample NULL-key policy
# ---------------------------------------------------------------------------

def test_hash_split_null_key_gets_null_split(spark):
    from pprl_spark.spark.sampling import hash_split

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id int, k string"
    )
    out = hash_split(df, "k", [0.5, 0.5]).collect()
    by_id = {r["id"]: r["split"] for r in out}
    assert by_id[2] is None and by_id[4] is None
    assert by_id[1] is not None and by_id[3] is not None


def test_hash_sample_drops_null_keys(spark):
    from pprl_spark.spark.sampling import hash_sample

    df = spark.createDataFrame(
        [(i, None if i % 2 else str(i)) for i in range(100)], "id int, k string"
    )
    kept = hash_sample(df, "k", 1.0).collect()
    assert len(kept) == 50
    assert all(r["k"] is not None for r in kept)


# ---------------------------------------------------------------------------
# ADVICE r3: chunked pipeline stage must reject a user `chunk` column
# ---------------------------------------------------------------------------

def test_pipeline_rejects_chunk_column_collision(spark, tmp_path):
    from pprl_spark.spark.pipeline import Pipeline, Stage

    def make(spark_, inputs):
        return spark_.range(10).select(
            F.col("id"), F.lit(7).alias("chunk")
        )

    pipe = Pipeline(
        spark,
        str(tmp_path),
        [Stage("s1", make, inputs=(), split_by="id", num_chunks=2)],
    )
    with pytest.raises(ValueError, match="chunk"):
        pipe.run()


# ---------------------------------------------------------------------------
# ADVICE r3: match_files must reject pairwise + lsh
# ---------------------------------------------------------------------------

def test_match_files_rejects_pairwise_with_lsh(spark):
    from pprl_spark.config import MatchConfig
    from pprl_spark.spark.lsh import LSHConfig
    from pprl_spark.spark.match import match_files

    df = spark.createDataFrame([("a", bytearray(b"\x01"))], "id string, bloom binary")
    with pytest.raises(ValueError, match="pairwise"):
        match_files(
            {"f1": df, "f2": df},
            MatchConfig("pairwise", 0.5),
            lsh=LSHConfig(8, 2, 4),
        )


# ---------------------------------------------------------------------------
# VERDICT r3 #2: fused sketch + exact distinct (one job)
# ---------------------------------------------------------------------------

def test_sketch_column_with_exact_matches_two_pass(spark):
    from pprl_spark.sketch import (HyperLogLog, sketch_column,
                                   sketch_column_with_exact)

    df = spark.range(10_000).select(
        (F.col("id") % 1337).cast("string").alias("k")
    )
    sk_fused, exact = sketch_column_with_exact(df, "k", lambda: HyperLogLog(p=12))
    assert exact == 1337
    sk_two_pass = sketch_column(df, "k", lambda: HyperLogLog(p=12))
    # same input stream → bit-identical merged sketch state
    assert sk_fused.estimate() == sk_two_pass.estimate()


def test_sketch_column_with_exact_partition_invariant(spark):
    from pprl_spark.sketch import HyperLogLog, sketch_column_with_exact

    base = spark.range(5_000).select((F.col("id") % 701).cast("string").alias("k"))
    results = []
    for p in (1, 2, 7, 32):
        sk, exact = sketch_column_with_exact(
            base.repartition(p), "k", lambda: HyperLogLog(p=12)
        )
        results.append((exact, sk.estimate()))
    assert all(r == results[0] for r in results)
    assert results[0][0] == 701


def test_sketch_column_with_exact_null_and_empty(spark):
    from pprl_spark.sketch import HyperLogLog, sketch_column_with_exact

    df = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,), ("a",)], "k string"
    )
    sk, exact = sketch_column_with_exact(df, "k", lambda: HyperLogLog(p=12))
    assert exact == 2
    empty = df.where(F.col("k") == "zzz")
    sk0, exact0 = sketch_column_with_exact(empty, "k", lambda: HyperLogLog(p=12))
    assert exact0 == 0
    assert sk0.estimate() == 0.0


# ---------------------------------------------------------------------------
# merged driver queries keep their per-variant semantics
# ---------------------------------------------------------------------------

def test_merged_queries_cover_variants(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    hard = E.pprl_mask_hardened(spark, sf)
    assert set(hard.columns) == {"id", "mask_hardened", "mask_rr", "mask_rehash"}
    weighted = E.pprl_mask_weighted(spark, sf)
    assert set(weighted.columns) == {"id", "mask_rbf", "mask_clkrbf"}
    ann = E.ann_topk(spark, sf)
    methods = {r["method"] for r in ann.select("method").distinct().collect()}
    assert methods == {"lsh", "ivf"}
    tr = E.transform_attributes(spark, sf)
    ops = {r["op"] for r in tr.select("op").distinct().collect()}
    assert ops == {"date_time", "number", "mapping"}
    qs = E.quantile_sketches(spark, sf)
    sketches = {r["sketch"] for r in qs.select("sketch").distinct().collect()}
    assert sketches == {"kll", "tdigest"}


def test_queries_fit_driver_window():
    """The driver's correctness file holds at most the first 50 queries()
    entries (CORRECTNESS_r03) — the registry must stay within that."""
    import __spark_entry__ as E

    q = E.queries()
    assert len(q) <= 50
    o = E.oracle_sql()
    assert set(o) <= set(q)


# ---------------------------------------------------------------------------
# VERDICT r3 #5: real GIF LZW raster decode
# ---------------------------------------------------------------------------

def _frame_subblocks(blocks: bytes) -> bytes:
    sub = bytearray()
    i = 0
    while blocks[i] != 0:
        ln = blocks[i]
        sub += blocks[i + 1 : i + 1 + ln]
        i += 1 + ln
    return bytes(sub)


def test_gif_lzw_roundtrip_including_table_full():
    import numpy as np

    from pprl_spark.fixtures import _gif_lzw_encode
    from pprl_spark.spark.multimodal import _gif_lzw_decode

    rng = np.random.RandomState(13)
    for n in (1, 2, 255, 4096, 60_000):
        data = bytes(rng.randint(0, 256, n, dtype=np.uint8))
        assert _gif_lzw_decode(_frame_subblocks(_gif_lzw_encode(data, 8)), 8) == data
    runs = bytes([i % 5 for i in range(50_000)])  # long-chain / KwKwK path
    assert _gif_lzw_decode(_frame_subblocks(_gif_lzw_encode(runs, 8)), 8) == runs


def test_gif_lzw_decodes_uncompressed_variant():
    """Real-world encoders may emit all-literal streams with frequent
    clear codes so the code width never grows ('uncompressed GIF') — the
    decoder must accept that convention, not just our encoder's."""
    from pprl_spark.spark.multimodal import _gif_lzw_decode

    data = bytes(range(256)) * 4
    bits = []
    width = 9
    count = 0
    bits.append((256, width))  # initial clear
    for b in data:
        if count == 200:  # clear well before the table could force growth
            bits.append((256, width))
            count = 0
        bits.append((b, width))
        count += 1
    bits.append((257, width))  # EOI
    acc = n = 0
    stream = bytearray()
    for code, w in bits:
        acc |= code << n
        n += w
        while n >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        stream.append(acc & 0xFF)
    assert _gif_lzw_decode(bytes(stream), 8) == data


def test_gif_pattern_decode_matches_arithmetic():
    import numpy as np

    from pprl_spark.fixtures import make_patterned_gif_bytes
    from pprl_spark.spark.multimodal import decode_gif_pixels

    for doc_id in (0, 1, 7, 99, 250):
        w, h = 16 + doc_id % 17, 16 + (doc_id * 3) % 13
        px = decode_gif_pixels(make_patterned_gif_bytes(w, h, doc_id))
        expect = np.array(
            [[(doc_id + 7 * r + 3 * c) % 251 for c in range(w)] for r in range(h)],
            dtype=np.uint8,
        )[:, :, None]
        assert px.shape == (h, w, 1)
        assert np.array_equal(px, expect)


def test_gif_decode_skips_extensions_and_maps_rgb_palette():
    import struct

    import numpy as np

    from pprl_spark.fixtures import _gif_lzw_encode
    from pprl_spark.spark.multimodal import decode_gif_pixels

    w = h = 4
    screen = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    palette = bytes(
        v for i in range(256) for v in ((i * 3) % 256, (i * 5) % 256, (i * 7) % 256)
    )
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control extension
    comment = b"\x21\xfe\x05hello\x00"
    indices = bytes((r * w + c) % 251 for r in range(h) for c in range(w))
    image = b"," + struct.pack("<HHHHB", 0, 0, w, h, 0)
    data = bytes([8]) + _gif_lzw_encode(indices, 8)
    gif = b"GIF89a" + screen + palette + gce + comment + image + data + b";"
    px = decode_gif_pixels(gif)
    assert px.shape == (h, w, 3)  # non-gray palette keeps 3 channels
    for r in range(h):
        for c in range(w):
            i = (r * w + c) % 251
            assert tuple(px[r, c]) == ((i * 3) % 256, (i * 5) % 256, (i * 7) % 256)


def test_gif_decode_rejects_unsupported():
    import struct

    import pytest as _pytest

    from pprl_spark.fixtures import make_patterned_gif_bytes
    from pprl_spark.spark.multimodal import decode_gif_pixels

    # interlace is SUPPORTED since r5: flipping the flag on a
    # straight-encoded raster decodes without error, as the row
    # permutation of the straight decode (tests/test_round6.py pins the
    # exact-pattern and real-file cases)
    import numpy as np

    gif = bytearray(make_patterned_gif_bytes(16, 16, 3))
    # image descriptor sits right after header(13) + 256-entry palette
    # (searching for b"," would false-hit palette byte 0x2C = gray 44)
    idx = 13 + 256 * 3
    assert gif[idx] == 0x2C
    gif[idx + 9] |= 0x40
    straight = decode_gif_pixels(make_patterned_gif_bytes(16, 16, 3))
    order = [
        r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for r in range(start, 16, step)
    ]
    permuted = decode_gif_pixels(bytes(gif))
    assert np.array_equal(permuted[order], straight)
    # GIF whose image has NEITHER a global nor a local palette
    from pprl_spark.fixtures import _gif_lzw_encode

    screen = struct.pack("<HHBBB", 2, 2, 0x00, 0, 0)
    image = b"," + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
    data = bytes([8]) + _gif_lzw_encode(bytes(4), 8)
    with _pytest.raises(ValueError, match="neither global nor local"):
        decode_gif_pixels(b"GIF89a" + screen + image + data + b";")


def test_image_pixel_features_mixed_formats(spark):
    from pprl_spark.fixtures import make_pixel_payloads
    from pprl_spark.spark.multimodal import image_pixel_features

    docs = spark.range(20).selectExpr("id AS doc_id")
    payloads = make_pixel_payloads(docs, formats=("png", "gif"))
    rows = image_pixel_features(payloads, grid=4).collect()
    assert len(rows) == 20
    by_id = {r["doc_id"]: r for r in rows}
    for i in range(20):
        r = by_id[i]
        assert r["format"] == ("png" if i % 2 == 0 else "gif")
        # identical pattern → identical means across container formats
        expect_w, expect_h = 16 + i % 17, 16 + (i * 3) % 13
        assert (r["width"], r["height"]) == (expect_w, expect_h)


# ---------------------------------------------------------------------------
# round-4: real baseline-JPEG raster decode
# ---------------------------------------------------------------------------

def test_jpeg_idct_matrix_normalization():
    """The scaled IDCT basis is orthonormal (A·Aᵀ = I), and a DC-only
    block IDCTs to the constant DC/8 — pins the normalization
    independent of the codec roundtrip tests."""
    import numpy as np

    from pprl_spark.spark.multimodal import _idct_matrix

    a = _idct_matrix()
    assert np.allclose(a @ a.T, np.eye(8), atol=1e-12)
    S = np.zeros((8, 8))
    S[0, 0] = 8 * 57
    assert np.allclose(a.T @ S @ a, np.full((8, 8), 57.0), atol=1e-9)


def test_jpeg_dc_only_pattern_exact():
    import numpy as np

    from pprl_spark.fixtures import make_patterned_jpeg_bytes
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    for doc_id in (0, 1, 7, 42, 199):
        w, h = 8 * (2 + doc_id % 5), 8 * (2 + (doc_id * 3) % 4)
        px = decode_jpeg_pixels(make_patterned_jpeg_bytes(w, h, doc_id))
        expect = np.array(
            [[(doc_id + 7 * (r // 8) + 3 * (c // 8)) % 251 for c in range(w)]
             for r in range(h)],
            dtype=np.uint8,
        )[:, :, None]
        assert px.shape == (h, w, 1)
        assert np.array_equal(px, expect)


def _reference_decode(blocks, w, h):
    import numpy as np

    from pprl_spark.spark.multimodal import _idct_matrix

    a = _idct_matrix()
    out = np.zeros((h, w))
    for i, blk in enumerate(blocks):
        bR, bC = divmod(i, w // 8)
        S = np.array(blk, dtype=float).reshape(8, 8)
        out[bR * 8 : bR * 8 + 8, bC * 8 : bC * 8 + 8] = a.T @ S @ a
    return np.clip(np.round(out + 128.0), 0, 255).astype("uint8")


def test_jpeg_ac_coefficients_roundtrip():
    """Random sparse AC coefficients through encode → Huffman decode →
    dequantize → IDCT must equal the reference IDCT of the same
    coefficients: exercises run-length/ZRL/EOB codes, category bits, DC
    prediction, and byte stuffing."""
    import numpy as np

    from pprl_spark.fixtures import make_jpeg_from_quantized
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    rng = np.random.RandomState(3)
    w, h = 32, 24
    blocks = []
    for _ in range((w // 8) * (h // 8)):
        blk = np.zeros(64, dtype=int)
        blk[0] = int(rng.randint(-900, 900))
        for _ in range(12):
            blk[rng.randint(1, 64)] = int(rng.randint(-255, 255))
        # force a >16-zero run so ZRL (0xF0) is actually emitted
        blk[1:40] = 0
        blk[45] = 33
        blocks.append(blk.tolist())
    px = decode_jpeg_pixels(make_jpeg_from_quantized(w, h, blocks))
    assert np.array_equal(px[:, :, 0], _reference_decode(blocks, w, h))


def test_jpeg_color_444_ycbcr():
    import numpy as np

    from pprl_spark.fixtures import make_jpeg_from_quantized
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    # one MCU, DC-only per component: Y=200, Cb=100, Cr=180 everywhere
    def dc_block(v):
        blk = [0] * 64
        blk[0] = 8 * (v - 128)
        return blk

    payload = make_jpeg_from_quantized(
        8, 8, [dc_block(200), dc_block(100), dc_block(180)], n_components=3
    )
    px = decode_jpeg_pixels(payload)
    assert px.shape == (8, 8, 3)
    y, cb, cr = 200.0, 100.0, 180.0

    def clip8(v):
        return int(min(255, max(0, round(v))))

    expect = (
        clip8(y + 1.402 * (cr - 128)),       # 272.9 → clipped 255
        clip8(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        clip8(y + 1.772 * (cb - 128)),
    )
    assert tuple(px[3, 3]) == expect


def test_jpeg_restart_markers():
    """DRI + RSTn: DC predictors reset and the bit stream re-aligns at
    each restart — decoded raster must equal the no-restart encoding of
    the same coefficients."""
    import struct

    import numpy as np

    from pprl_spark.fixtures import (_JpegBitWriter, _jpeg_encode_blocks,
                                     make_jpeg_from_quantized)
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    w, h = 32, 8  # 4 MCUs, restart interval 2
    blocks = []
    for i in range(4):
        blk = [0] * 64
        blk[0] = 8 * ((40 * i + 17) - 128)
        blk[9] = 5 + i
        blocks.append(blk)
    plain = make_jpeg_from_quantized(w, h, blocks)
    expect = decode_jpeg_pixels(plain)

    # rebuild the same file with DRI=2 and an RST0 between the halves
    wr1, wr2 = _JpegBitWriter(), _JpegBitWriter()
    _jpeg_encode_blocks(blocks[:2], wr1)
    _jpeg_encode_blocks(blocks[2:], wr2)  # fresh writer = fresh DC pred
    sos_at = plain.index(b"\xff\xda")
    sos_len = int.from_bytes(plain[sos_at + 2 : sos_at + 4], "big")
    head = plain[: sos_at + 2 + sos_len]
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 2)
    restarted = (
        head[:2] + dri + head[2:]  # DRI right after SOI
        + wr1.flush() + b"\xff\xd0" + wr2.flush() + b"\xff\xd9"
    )
    px = decode_jpeg_pixels(restarted)
    assert np.array_equal(px, expect)


def test_jpeg_rejects_unsupported():
    import pytest as _pytest

    from pprl_spark.fixtures import make_jpeg_bytes
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    # SOF2 is SUPPORTED since r5 — a header-only progressive stream now
    # fails only for its missing scan, not its frame type
    with _pytest.raises(ValueError, match="no scan data"):
        decode_jpeg_pixels(make_jpeg_bytes(16, 16, progressive=True))
    # lossless (SOF3) remains genuinely unsupported
    import struct

    sof3 = (
        b"\xff\xd8"
        + b"\xff\xc3" + struct.pack(">HBHHB", 11, 8, 16, 16, 1)
        + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    with _pytest.raises(ValueError, match="SOF3"):
        decode_jpeg_pixels(sof3)
    # sampling factors beyond 2 are genuinely unsupported

    bad_sof = (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 16, 16, 1)
        + bytes([1, 0x31, 0])  # h=3, v=1
        + b"\xff\xd9"
    )
    with _pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg_pixels(bad_sof)
    # headers-only stream (everything before SOS, then EOI): no scan
    from pprl_spark.fixtures import make_patterned_jpeg_bytes

    full = make_patterned_jpeg_bytes(16, 16, 5)
    headers_only = full[: full.index(b"\xff\xda")] + b"\xff\xd9"
    with _pytest.raises(ValueError, match="no scan data"):
        decode_jpeg_pixels(headers_only)


def test_image_pixel_features_three_formats(spark):
    from pprl_spark.fixtures import make_pixel_payloads
    from pprl_spark.spark.multimodal import image_pixel_features

    docs = spark.range(30).selectExpr("id AS doc_id")
    payloads = make_pixel_payloads(docs, formats=("png", "gif", "jpeg"))
    rows = image_pixel_features(payloads, grid=4).collect()
    assert len(rows) == 30
    fmts = {r["doc_id"] % 3 for r in rows if r["format"] == "jpeg"}
    assert fmts == {2}
    for r in rows:
        if r["format"] == "jpeg":
            i = r["doc_id"]
            assert (r["width"], r["height"]) == (8 * (2 + i % 5), 8 * (2 + (i * 3) % 4))


# ---------------------------------------------------------------------------
# round-4: quality-filter pipeline (Gopher-style repetition + rules)
# ---------------------------------------------------------------------------

def test_repetition_signals(spark):
    """The three default Gopher repetition signals: the Catalyst word/line
    fractions and the per-row UDF's top-bigram fraction, which must equal
    the explode + aggregate reference."""
    from pprl_spark.spark.quality import (
        dup_line_fraction,
        dup_word_fraction,
        ngram_char_stats,
        ngram_char_stats_udf,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),                      # all distinct
            (2, "x x x x"),                      # one word repeated
            (3, "p q p q p q"),                  # dominant bigram pattern
            (4, ""),                             # empty
            (5, "solo"),                         # single word, no bigrams
            (6, "l1\nl2\nl1\nl3"),               # duplicate line
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id",
        dup_word_fraction("text").alias("dup_word_fraction"),
        dup_line_fraction("text").alias("dup_line_fraction"),
        ngram_char_stats_udf("text", (), ())["top_bigram_fraction"]
        .alias("top_bigram_fraction"),
    ).collect()}
    reference = {r["doc_id"]: r["top_bigram_fraction"]
                 for r in ngram_char_stats(df, top_ns=(), dup_ns=()).collect()}
    assert {i: r["top_bigram_fraction"] for i, r in rows.items()} == reference
    assert rows[1]["dup_word_fraction"] == 0.0
    assert rows[2]["dup_word_fraction"] == 0.75
    assert rows[4]["dup_word_fraction"] == 0.0
    assert rows[5]["top_bigram_fraction"] == 0.0
    assert rows[4]["top_bigram_fraction"] == 0.0
    # "p q p q p q": bigrams [pq, qp, pq, qp, pq] -> top 'p q' 3/5
    assert abs(rows[3]["top_bigram_fraction"] - 0.6) < 1e-12
    # lines: 4 lines, 3 distinct -> 1 - 3/4
    assert abs(rows[6]["dup_line_fraction"] - 0.25) < 1e-12
    assert rows[1]["dup_line_fraction"] == 0.0


def test_filter_documents_reason_order(spark):
    from pprl_spark.spark.quality import FilterRules, filter_documents

    rules = FilterRules(
        min_tokens=3, max_tokens=5, min_quality=0.0,
        allowed_langs=("en",), max_dup_word_fraction=0.5,
        max_top_bigram_fraction=0.5,
    )
    df = spark.createDataFrame(
        [
            (1, "aa bb"),                        # too_short (2 tokens)
            (2, "aa bb cc dd ee ff"),            # too_long (6)
            (3, "der die und das ist"),          # 5 de-stopwords -> lang
            (4, "zz zz zz zz zz"),               # dup 0.8 -> repetition_words
            # 'the of' dominates AND dup words: too few distinct... craft:
            (5, "the of and to in"),             # en stopwords, distinct, ok
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in filter_documents(df, rules).collect()}
    assert rows[1]["reject_reason"] == "too_short" and not rows[1]["keep"]
    assert rows[2]["reject_reason"] == "too_long"
    assert rows[3]["reject_reason"] == "lang"
    # doc 4 is en-undetectable too ('und') — lang fires BEFORE repetition
    assert rows[4]["reject_reason"] == "lang"
    assert rows[5]["reject_reason"] == "ok" and rows[5]["keep"]


def test_quality_filter_query_classes(spark):
    import __spark_entry__ as E

    out = E.quality_filter(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 500
    reasons = {r["reject_reason"] for r in out}
    assert "ok" in reasons and len(reasons) >= 2
    for r in out:
        assert r["keep"] == (r["reject_reason"] == "ok")
        assert r["reject_reason"] is not None


# ---------------------------------------------------------------------------
# round-4: cross-corpus (incremental) MinHash dedup
# ---------------------------------------------------------------------------

def test_minhash_cross_corpus_pairs(spark):
    """Batch-vs-corpus mode: finds batch docs near-duplicating corpus
    docs, never pairs the corpus with itself, and agrees with self-mode
    on the same logical pairs."""
    from pprl_spark.spark.dedup import jaccard_verify, minhash_lsh_pairs

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before noon today",
        "sphinx of black quartz judge my vow said the old teacher",
    ]
    corpus_rows = [(i, t) for i, t in enumerate(base)]
    # batch: one near-dup of corpus doc 0, one fresh doc
    batch_rows = [
        (100, base[0].replace("lazy", "sleepy")),
        (101, "completely different content with no overlap whatsoever here"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    cands = minhash_lsh_pairs(
        batch, "doc_id", "text", q=4, num_hashes=64, bands=16, df_other=corpus
    )
    rows = cands.collect()
    # id_a always from the batch, id_b from the corpus
    assert all(r["id_a"] >= 100 and r["id_b"] < 100 for r in rows)
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert (100, 0) in got
    assert not any(a == 101 for a, _ in got)

    # verified pairs agree with running self-mode over the union
    union = corpus.unionByName(batch)
    self_cands = minhash_lsh_pairs(union, "doc_id", "text", q=4,
                                   num_hashes=64, bands=16)
    self_pairs = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in jaccard_verify(self_cands, union, "doc_id", "text",
                                q=4, threshold=0.5).collect()
    }
    cross_pairs = {
        (r["id_a"], r["id_b"])
        for r in jaccard_verify(cands, union, "doc_id", "text",
                                q=4, threshold=0.5).collect()
    }
    # every cross-mode verified pair appears in self-mode too
    assert cross_pairs <= self_pairs
    assert (100, 0) in cross_pairs


def test_real_decode_embedding_for_decodable_rasters(spark):
    """decoder='real' now carries a raster-derived embedding for
    PNG/GIF/JPEG payloads with decodable scans; header-only or
    undecodable payloads keep a null embedding."""
    from pprl_spark.fixtures import (make_bmp_bytes, make_patterned_gif_bytes,
                                     make_patterned_jpeg_bytes,
                                     make_patterned_png_bytes)
    from pprl_spark.spark.multimodal import decode_image_features

    rows = [
        (0, bytearray(make_patterned_png_bytes(16, 16, 0))),
        (1, bytearray(make_patterned_gif_bytes(16, 16, 1))),
        (2, bytearray(make_patterned_jpeg_bytes(16, 16, 2))),
        (3, bytearray(make_bmp_bytes(16, 16))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in
           decode_image_features(df, decoder="real").collect()}
    for i in (0, 1, 2):
        emb = out[i]["embedding"]
        assert emb is not None and len(emb) == 16
        assert all(0.0 <= v <= 1.0 for v in emb)
    assert out[3]["embedding"] is None  # BMP: header-only, honest gap


_STREAM_BASE_RULES = dict(
    min_tokens=3, max_tokens=8, min_quality=0.0,
    allowed_langs=("en", "de"),
    max_dup_word_fraction=0.4, max_top_bigram_fraction=0.6,
)


@pytest.mark.parametrize(
    "shape",
    [
        # the bigram lane only (dedup_job and CLI ``quality`` rules)
        {},
        # + the line/paragraph character-mass lanes
        dict(max_dup_line_char_fraction=0.20,
             max_dup_paragraph_char_fraction=0.20),
        # the full Gopher table
        dict(max_top_ngram_fraction=((2, 0.20), (3, 0.18), (4, 0.16)),
             max_dup_ngram_fraction=((5, 0.15), (6, 0.14), (7, 0.13),
                                     (8, 0.12), (9, 0.11), (10, 0.10)),
             max_dup_line_fraction=0.30, max_dup_paragraph_fraction=0.30,
             max_dup_line_char_fraction=0.20,
             max_dup_paragraph_char_fraction=0.20),
    ],
    ids=["default", "units", "gopher"],
)
def test_streaming_quality_filter_matches_batch(spark, tmp_path, shape):
    """streaming_quality_filter output is row-identical to the batch
    filter_documents on the same rows — every column, not only the
    decision — for each shape of rule set."""
    from pprl_spark.spark.quality import (FilterRules, filter_documents,
                                          streaming_quality_filter)

    rules = FilterRules(**_STREAM_BASE_RULES, **shape)
    rows = [
        (1, "the of and to in"),
        (2, "aa bb"),
        (3, "der die und das ist von den mit auf"),
        (4, "the the the the of"),
        (5, "the of the of the of"),
        (6, "el la los de que y en"),
        (7, "the cat\nthe cat\nand it"),
        (8, "der hund ist\n\nder hund ist\n\nund das"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    expect = filter_documents(batch, rules)
    want = {r["doc_id"]: r.asDict() for r in expect.collect()}

    src = tmp_path / "src"
    batch.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (streaming_quality_filter(stream, rules)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got_df = spark.read.parquet(out_dir)
    assert got_df.columns == expect.columns
    got = {r["doc_id"]: r.asDict() for r in got_df.collect()}
    assert got == want
    reasons = {r["reject_reason"] for r in got.values()}
    assert reasons >= {"too_short", "too_long", "lang"}
    # the multi-line rows reach a line rule exactly when one is on
    assert bool(reasons & {"repetition_lines", "repetition_line_chars"}) == bool(shape)


def test_streaming_quality_filter_rejects_batch_frame(spark):
    from pprl_spark.spark.quality import streaming_quality_filter

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="streaming"):
        streaming_quality_filter(df)


# ---------------------------------------------------------------------------
# round-4: token-budget shard packing (distributed prefix sum)
# ---------------------------------------------------------------------------

def test_assign_shards_matches_sequential_reference(spark):
    import random

    from pprl_spark.spark.packing import assign_shards

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 500)) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = assign_shards(df, "doc_id", "n_tokens", budget=3000).collect()
    got = {r["doc_id"]: r["shard"] for r in out}

    cum = 0
    for i, tok in rows:  # sequential single-threaded reference
        assert got[i] == cum // 3000, (i, got[i], cum)
        cum += tok
    # shards are contiguous in id order and ~budget-sized
    by_shard = {}
    for i, tok in rows:
        by_shard.setdefault(got[i], []).append((i, tok))
    for s, members in by_shard.items():
        ids = [i for i, _ in members]
        assert ids == sorted(ids)
        total = sum(t for _, t in members)
        # a shard overflows by at most one document (500 max tokens)
        if s != max(by_shard):
            assert total >= 3000 - 500


def test_assign_shards_partition_invariant(spark):
    from pprl_spark.spark.packing import assign_shards

    rows = [(i, 7 + i % 13) for i in range(500)]
    base = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    expect = None
    for p in (1, 3, 32):
        got = sorted(
            (r["doc_id"], r["shard"])
            for r in assign_shards(
                base.repartition(p), "doc_id", "n_tokens", budget=100
            ).collect()
        )
        if expect is None:
            expect = got
        assert got == expect


def test_assign_shards_validates_budget(spark):
    from pprl_spark.spark.packing import assign_shards

    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="budget"):
        assign_shards(df, "doc_id", "n_tokens", budget=0)


def test_dedup_job_shards_stage(spark, tmp_path):
    """The staged curation job's final shards stage: canonical docs get
    contiguous token-budget shard indexes; non-canonical docs are
    excluded (they were deduplicated away)."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "dedup_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "dedup_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    from pprl_spark.spark.pipeline import Pipeline

    stages = job.build_stages("/root/testdata/sf0.001/documents.parquet",
                              q=5, threshold=0.8, min_quality=0.0,
                              shard_budget=1500)
    results = Pipeline(spark, tmp_path, stages).run()
    canon = results["canonical"].collect()
    canonical_ids = {r["doc_id"] for r in canon if r["is_canonical"]}
    sh = results["shards"].collect()
    assert {r["doc_id"] for r in sh} == canonical_ids
    # shard indexes replay id order: sort by id -> shard is non-decreasing
    ordered = sorted(sh, key=lambda r: r["doc_id"])
    shards_seq = [r["shard"] for r in ordered]
    assert shards_seq == sorted(shards_seq)
    # every full shard is within one doc of the budget
    from collections import defaultdict
    totals = defaultdict(int)
    for r in ordered:
        totals[r["shard"]] += r["n_tokens"]
    max_doc = max(r["n_tokens"] for r in ordered)
    for s, tot in totals.items():
        if s != max(totals):
            assert tot >= 1500 - max_doc


# ---------------------------------------------------------------------------
# round-4: benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------

def test_contamination_report_flags_overlap(spark):
    from pprl_spark.spark.decontaminate import (contamination_report,
                                                decontaminate)

    bench_sentence = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            (1, "intro text then " + bench_sentence + " and more prose after"),
            (2, "totally unrelated content about distributed join strategies"
                " and shuffle partitioning in modern analytical engines ok"),
            (3, "short doc"),
            (4, "The QUICK brown fox JUMPS over the lazy dog tonight"),  # case
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [("eval: " + bench_sentence + " extra",)], "text string"
    )
    rep = {r["doc_id"]: r for r in
           contamination_report(train, evalset, n=10).collect()}
    assert len(rep) == 4
    assert rep[1]["contaminated"] and rep[1]["n_gram_hits"] >= 1
    assert rep[4]["contaminated"]  # lowercased comparison
    assert not rep[2]["contaminated"] and rep[2]["n_gram_hits"] == 0
    assert not rep[3]["contaminated"]  # < n words -> clean by definition

    kept = decontaminate(train, evalset, n=10)
    assert {r["doc_id"] for r in kept.collect()} == {2, 3}


def test_contamination_min_hits_threshold(spark):
    from pprl_spark.spark.decontaminate import contamination_report

    s = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    train = spark.createDataFrame([(1, s)], "doc_id long, text string")
    evalset = spark.createDataFrame([(s,)], "text string")
    # n=4 over an identical 8-word doc -> 5 shared 4-grams
    rep = contamination_report(train, evalset, n=4, min_hits=6).first()
    assert rep["n_gram_hits"] == 5 and not rep["contaminated"]
    rep2 = contamination_report(train, evalset, n=4, min_hits=5).first()
    assert rep2["contaminated"]


def test_contamination_plan_broadcasts_eval(spark):
    from pprl_spark.spark.decontaminate import contamination_report

    train = spark.createDataFrame(
        [(i, f"word{i} " * 20) for i in range(50)], "doc_id long, text string"
    )
    evalset = spark.createDataFrame([("a b c d e f g h i j k l m n",)],
                                    "text string")
    rep = contamination_report(train, evalset, n=13)
    rep.collect()
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles for the semi-join


def test_jpeg_420_chroma_subsampling():
    """4:2:0 (the dominant real-world JPEG layout): 16x16 MCU with four Y
    blocks + one Cb + one Cr, chroma upsampled 2x2; plus 4:2:2 and crop
    of a partial MCU."""
    import numpy as np

    from pprl_spark.fixtures import make_jpeg_from_quantized
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    def dc(v):
        blk = [0] * 64
        blk[0] = 8 * (v - 128)
        return blk

    # quadrant Y values, neutral chroma -> grayscale quadrants
    blocks = [dc(100), dc(140), dc(180), dc(220), dc(128), dc(128)]
    px = decode_jpeg_pixels(
        make_jpeg_from_quantized(16, 16, blocks, sampling=((2, 2), (1, 1), (1, 1)))
    )
    assert px.shape == (16, 16, 3)
    assert tuple(px[0, 0]) == (100, 100, 100)
    assert tuple(px[0, 15]) == (140, 140, 140)
    assert tuple(px[15, 0]) == (180, 180, 180)
    assert tuple(px[15, 15]) == (220, 220, 220)

    # chroma really reaches every upsampled pixel
    colored = [dc(128)] * 4 + [dc(128), dc(180)]
    px2 = decode_jpeg_pixels(
        make_jpeg_from_quantized(16, 16, colored, sampling=((2, 2), (1, 1), (1, 1)))
    )
    expect_r = int(round(128 + 1.402 * (180 - 128)))
    assert abs(int(px2[3, 12, 0]) - expect_r) <= 1

    # partial-MCU crop: 10x12 image inside one 16x16 MCU
    px3 = decode_jpeg_pixels(
        make_jpeg_from_quantized(10, 12, blocks, sampling=((2, 2), (1, 1), (1, 1)))
    )
    assert px3.shape == (12, 10, 3)

    # 4:2:2 (Y 2x1): MCU 16x8 = 2 Y + Cb + Cr
    b422 = [dc(90), dc(210), dc(128), dc(128)]
    px4 = decode_jpeg_pixels(
        make_jpeg_from_quantized(16, 8, b422, sampling=((2, 1), (1, 1), (1, 1)))
    )
    assert px4.shape == (8, 16, 3)
    assert tuple(px4[4, 0]) == (90, 90, 90)
    assert tuple(px4[4, 15]) == (210, 210, 210)


def test_jpeg_420_multi_mcu_dc_prediction():
    """DC prediction chains correctly across MCUs per component in the
    interleaved 4:2:0 layout (2x1 MCUs = 12 blocks)."""
    from pprl_spark.fixtures import make_jpeg_from_quantized
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    def dc(v):
        blk = [0] * 64
        blk[0] = 8 * (v - 128)
        return blk

    # MCU0: Y quadrants 10,20,30,40 Cb 100 Cr 150; MCU1: 50,60,70,80, 110, 160
    blocks = ([dc(v) for v in (10, 20, 30, 40)] + [dc(100), dc(150)]
              + [dc(v) for v in (50, 60, 70, 80)] + [dc(110), dc(160)])
    px = decode_jpeg_pixels(
        make_jpeg_from_quantized(32, 16, blocks, sampling=((2, 2), (1, 1), (1, 1)))
    )
    assert px.shape == (16, 32, 3)
    # luma quadrants of each MCU land in the right places: recompute Y
    # from the decoded RGB at neutral-free positions is messy; instead
    # decode a grayscale-interpretation by checking the G channel ordering
    g = px[:, :, 1].astype(int)
    assert g[0, 0] < g[0, 15] < g[8, 0] < g[8, 15]          # MCU0 quadrants
    assert g[0, 16] < g[0, 31] < g[8, 16] < g[8, 31]        # MCU1 quadrants


def test_stream_job_quality_stage_filters(spark, tmp_path):
    """The composed streaming job's quality stage actually drops rows
    when rules are tightened (and the permissive default passes all)."""
    import importlib.util
    import pathlib
    from datetime import datetime, timedelta

    from pprl_spark.spark.quality import FilterRules

    spec = importlib.util.spec_from_file_location(
        "stream_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "stream_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    t0 = datetime(2024, 1, 1)
    rows = [
        ("u1", "one two three four five words here", "en", t0),
        ("u2", "short", "en", t0 + timedelta(minutes=1)),
        ("u3", "another long enough document with many words", "en",
         t0 + timedelta(minutes=2)),
    ]
    spark.createDataFrame(rows, job.PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q = job.build_query(spark, src, out, ckpt, once=True,
                        rules=FilterRules(min_tokens=3))
    q.awaitTermination(180)
    got = spark.read.parquet(out).collect()
    assert {r["id"] for r in got} == {"u1", "u3"}  # u2 too short
