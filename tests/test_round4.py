"""Round-3 additions: GIF/BMP/WAV header decode, rehash hardener oracle
support, and the multimodal audio path."""

import pytest


# --------------------------------------------- GIF / BMP / WAV parsers

def test_gif_header_parser_golden():
    from pprl_spark.fixtures import make_gif_bytes
    from pprl_spark.spark.multimodal import parse_gif_header

    assert parse_gif_header(make_gif_bytes(300, 256)) == (300, 256, 3)
    assert parse_gif_header(make_gif_bytes(1, 65535)) == (1, 65535, 3)
    with pytest.raises(ValueError):
        parse_gif_header(b"GIF00a" + b"\x00" * 8)


def test_bmp_header_parser_golden():
    from pprl_spark.fixtures import make_bmp_bytes
    from pprl_spark.spark.multimodal import parse_bmp_header

    assert parse_bmp_header(make_bmp_bytes(640, 480, 24)) == (640, 480, 3)
    assert parse_bmp_header(make_bmp_bytes(17, 300, 8)) == (17, 300, 1)
    with pytest.raises(ValueError):
        parse_bmp_header(b"XX" + b"\x00" * 40)


def test_bmp_top_down_height_is_absolute():
    """Negative DIB height means top-down row order, not negative size."""
    from pprl_spark.fixtures import make_bmp_bytes
    from pprl_spark.spark.multimodal import parse_bmp_header

    b = bytearray(make_bmp_bytes(10, 7, 24))
    b[22:26] = (-7).to_bytes(4, "little", signed=True)
    assert parse_bmp_header(bytes(b)) == (10, 7, 3)


def test_wav_header_parser_golden():
    from pprl_spark.fixtures import make_wav_bytes
    from pprl_spark.spark.multimodal import parse_wav_header

    meta = parse_wav_header(make_wav_bytes(44100, 2, 16, 1234))
    assert meta == {
        "n_channels": 2,
        "sample_rate": 44100,
        "bits_per_sample": 16,
        "n_frames": 1234,
        "duration_sec": 1234 / 44100,
    }
    with pytest.raises(ValueError):
        parse_wav_header(b"RIFF\x00\x00\x00\x00JUNK")


def test_wav_parser_walks_extra_chunks():
    """A LIST chunk (odd-sized, so word-alignment padding is exercised)
    before fmt/data must be skipped, as real recorders emit metadata."""
    import struct

    from pprl_spark.fixtures import make_wav_bytes
    from pprl_spark.spark.multimodal import parse_wav_header

    wav = make_wav_bytes(8000, 1, 8, 50)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    patched = wav[:12] + extra + wav[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    meta = parse_wav_header(patched)
    assert meta["n_frames"] == 50 and meta["sample_rate"] == 8000


def test_image_payload_row_cycles_four_formats():
    from pprl_spark.fixtures import image_payload_row
    from pprl_spark.spark.multimodal import _real_image_features

    for doc_id in range(16):
        row = image_payload_row(doc_id)
        feats = _real_image_features(row["payload"])
        assert feats["format"] == ["png", "jpeg", "gif", "bmp"][doc_id % 4]
        assert feats["width"] == 16 + doc_id % 240
        assert feats["height"] == 16 + (doc_id * 7) % 240


def test_decode_audio_features_spark(spark):  # noqa: F811
    from pprl_spark.fixtures import audio_payload_row, make_audio_payloads
    from pprl_spark.spark.multimodal import decode_audio_features

    base = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    feats = decode_audio_features(make_audio_payloads(base)).collect()
    assert len(feats) == 40
    by_id = {r["doc_id"]: r for r in feats}
    for i in (0, 3, 7, 13):
        expected = audio_payload_row(i)
        del expected  # ground truth is the id arithmetic below
        assert by_id[i]["sample_rate"] == 8000 + (i % 8) * 4000
        assert by_id[i]["n_channels"] == 1 + i % 2
        assert by_id[i]["bits_per_sample"] == 8 if i % 4 < 2 else 16
        assert by_id[i]["n_frames"] == 100 + i % 900
        assert by_id[i]["format"] == "wav"


def test_decode_audio_gates_unsupported_codecs(spark):  # noqa: F811
    from pprl_spark.spark.multimodal import decode_audio_features

    # WAV/FLAC/MP3/Ogg are parsed since r5; a genuinely-unknown codec
    # (AIFF here) must still raise, and a truncated ID3-only stream is
    # now a corrupt MP3 rather than an unsupported format
    df = spark.createDataFrame([(1, bytearray(b"FORM\x00\x00\x00\x04AIFF"))],
                               "doc_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|metadata decode"):
        decode_audio_features(df).collect()
    df2 = spark.createDataFrame([(1, bytearray(b"ID3\x04fake-mp3"))],
                                "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt MP3"):
        decode_audio_features(df2).collect()


def test_png_raster_decode_all_filter_types():
    """decode_png_pixels must undo every spec filter (None/Sub/Up/
    Average/Paeth) — encode a random RGB raster with one row per filter
    type and round-trip."""
    import struct
    import zlib

    import numpy as np

    from pprl_spark.spark.multimodal import decode_png_pixels

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    w, h, ch = 7, 5, 3
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(h, w * ch), dtype=np.uint8).astype(int)
    raw = bytearray()
    prev = [0] * (w * ch)
    for r, f in zip(range(h), [0, 1, 2, 3, 4]):
        row = img[r]
        raw.append(f)
        for k in range(w * ch):
            a = row[k - ch] if k >= ch else 0
            b = prev[k]
            c = prev[k - ch] if k >= ch else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[f]
            raw.append((row[k] - pred) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
    assert np.array_equal(decode_png_pixels(png).reshape(h, w * ch),
                          img.astype(np.uint8))


def test_patterned_png_round_trip_and_resize():
    import numpy as np

    from pprl_spark.fixtures import pixel_payload_row
    from pprl_spark.spark.multimodal import decode_png_pixels, resize_nearest

    for doc_id in (0, 3, 11):
        w, h = 16 + doc_id % 17, 16 + (doc_id * 3) % 13
        px = decode_png_pixels(pixel_payload_row(doc_id)["payload"])
        expected = np.array(
            [[(doc_id + 7 * r + 3 * c) % 251 for c in range(w)] for r in range(h)],
            dtype=np.uint8,
        )
        assert np.array_equal(px[:, :, 0], expected)
        small = resize_nearest(px, 8, 8)
        exp = expected[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8]
        assert np.array_equal(small[:, :, 0], exp)


def test_mp4_header_parser_golden():
    from pprl_spark.fixtures import make_mp4_bytes
    from pprl_spark.spark.multimodal import parse_mp4_header

    for v in (0, 1):
        m = parse_mp4_header(make_mp4_bytes(1920, 1080, 90000, 450000, version=v))
        assert m == {"timescale": 90000, "duration_units": 450000,
                     "width": 1920, "height": 1080}
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4_header(b"\x00\x00\x00\x08mdat")
    with pytest.raises(ValueError, match="moov"):
        parse_mp4_header(make_mp4_bytes(1, 1, 1, 1)[:20])


def test_decode_video_features_spark(spark):
    from pprl_spark.fixtures import make_video_payloads
    from pprl_spark.spark.multimodal import decode_video_features

    base = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    feats = {r["doc_id"]: r
             for r in decode_video_features(make_video_payloads(base)).collect()}
    assert len(feats) == 20
    for i in (0, 1, 7):
        assert feats[i]["width"] == 160 + i % 480
        assert feats[i]["timescale"] == 600 + (i % 5) * 600
        exp_units = 1200 + i % 9000
        assert feats[i]["duration_us"] == exp_units * 1_000_000 // feats[i]["timescale"]
    df = spark.createDataFrame([(1, bytearray(b"\x1aEdmatroska00"))],
                               "doc_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|ISO-BMFF|MP4"):
        decode_video_features(df).collect()


# ------------------------------------- stateful streaming sketch operator

def test_streaming_hll_state_is_bit_identical_to_batch(spark, tmp_path):
    """The applyInPandasWithState running-HLL must carry state across
    micro-batches: after two single-file triggers, each key's serialized
    sketch equals the batch sketch over the union of both files (HLL
    registers are max-merged, so time-sliced arrival is associativity)."""
    from pyspark.sql import functions as F

    from pprl_spark.sketch import HyperLogLog
    from pprl_spark.streaming import streaming_hll_by_key

    src = tmp_path / "src"
    rows1 = [(f"k{i % 3}", f"v{i}") for i in range(60)]
    rows2 = [(f"k{i % 3}", f"v{i}") for i in range(30, 90)]  # overlap 30-59
    spark.createDataFrame(rows1, "key string, val string").coalesce(1) \
        .write.mode("append").parquet(str(src))
    spark.createDataFrame(rows2, "key string, val string").coalesce(1) \
        .write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("key string, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_hll_by_key(stream, "key", "val", p=8)
    q = (
        out.writeStream.format("memory")
        .queryName("hll_updates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    updates = spark.sql("SELECT * FROM hll_updates").collect()
    assert len(updates) >= 4  # ≥2 micro-batches × 3 keys (batches may merge)
    final = {}
    for r in updates:
        if r["key"] not in final or r["n_rows_seen"] > final[r["key"]]["n_rows_seen"]:
            final[r["key"]] = r

    batch = spark.createDataFrame(rows1 + rows2, "key string, val string") \
        .select("key", F.xxhash64(F.col("val").cast("string")).alias("h"))
    for key in final:
        hashes = [r["h"] for r in batch.where(F.col("key") == key).collect()]
        hll = HyperLogLog(p=8)
        hll.update(hashes)
        assert bytes(final[key]["sketch"]) == hll.serialize()
        assert final[key]["n_rows_seen"] == len(hashes)
        exact = len({v for k2, v in rows1 + rows2 if k2 == key})
        assert abs(final[key]["estimate"] - exact) <= 3 * hll.relative_error * exact


def test_streaming_hll_long_values_match_sketch_grouped(spark, tmp_path):
    """On a non-string value column the streaming HLL hashes the value
    itself, as the batch layer does: after ≥2 micro-batches each key's
    final sketch is byte-equal to sketch_grouped's state for that key
    (xxhash64(5L) != xxhash64('5'), so hashing the string form breaks
    this)."""
    from pprl_spark.sketch import HyperLogLog, sketch_grouped
    from pprl_spark.streaming import streaming_hll_by_key

    src = tmp_path / "src"
    rows1 = [(f"k{i % 3}", i) for i in range(60)]
    rows2 = [(f"k{i % 3}", i) for i in range(30, 90)]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, "key string, val long").coalesce(1) \
            .write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("key string, val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_hll_by_key(stream, "key", "val", p=8)
        .writeStream.format("memory")
        .queryName("hll_long_updates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    updates = spark.sql("SELECT * FROM hll_long_updates").collect()
    assert len(updates) >= 4  # ≥2 micro-batches × 3 keys
    final = {}
    for r in updates:
        if r["key"] not in final or r["n_rows_seen"] > final[r["key"]]["n_rows_seen"]:
            final[r["key"]] = r

    batch = spark.createDataFrame(rows1 + rows2, "key string, val long")
    grouped = {
        r["key"]: bytes(r["state"])
        for r in sketch_grouped(batch, ["key"], "val", lambda: HyperLogLog(p=8)).collect()
    }
    assert set(final) == set(grouped) == {"k0", "k1", "k2"}
    for key, row in final.items():
        assert row["n_rows_seen"] == 40
        assert bytes(row["sketch"]) == grouped[key]


def test_streaming_hll_rejects_batch_df(spark):
    from pprl_spark.streaming import streaming_hll_by_key

    df = spark.createDataFrame([("a", "b")], "key string, val string")
    with pytest.raises(ValueError, match="expects a streaming DataFrame"):
        streaming_hll_by_key(df, "key", "val")


def test_streaming_hll_state_survives_query_restart(spark, tmp_path):
    """Exactly-once state: stop the stream after batch 1, start a NEW
    query from the same checkpoint with more input — the state store must
    resume (final sketch == batch over all rows), not restart from zero."""
    from pyspark.sql import functions as F

    from pprl_spark.sketch import HyperLogLog
    from pprl_spark.streaming import streaming_hll_by_key

    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    rows1 = [("k", f"a{i}") for i in range(40)]
    rows2 = [("k", f"b{i}") for i in range(40)]
    spark.createDataFrame(rows1, "key string, val string").coalesce(1) \
        .write.mode("append").parquet(str(src))

    out_dir = str(tmp_path / "out")

    def run_once():
        stream = (spark.readStream.schema("key string, val string")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        q = (streaming_hll_by_key(stream, "key", "val", p=8,
                                  output_mode="append")
             .writeStream.format("parquet").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_once()  # processes rows1, checkpoints offsets + state
    spark.createDataFrame(rows2, "key string, val string").coalesce(1) \
        .write.mode("append").parquet(str(src))
    run_once()  # NEW query object, same checkpoint: must resume state

    final = max(spark.read.parquet(out_dir).collect(),
                key=lambda r: r["n_rows_seen"])
    assert final["n_rows_seen"] == 80  # state carried across restart
    batch = spark.createDataFrame(rows1 + rows2, "key string, val string") \
        .select(F.xxhash64(F.col("val").cast("string")).alias("h"))
    hll = HyperLogLog(p=8)
    hll.update([r["h"] for r in batch.collect()])
    assert bytes(final["sketch"]) == hll.serialize()


# ------------------------------------------------- connected components

def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def test_connected_components_chain_and_star(spark):
    from pprl_spark.spark.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_random_graph_matches_union_find(spark):
    import random

    from pprl_spark.spark.graph import connected_components

    rng = random.Random(99)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _uf_components(n, edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    touched = {x for e in edges for x in e}
    assert set(got) == touched
    for node in touched:
        assert got[node] == expected[node]


def test_assign_components_labels_singletons(spark):
    from pprl_spark.spark.graph import assign_components

    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame([(1, 5), (5, 2)], "id_a long, id_b long")
    got = {r["doc_id"]: r["component"]
           for r in assign_components(docs, "doc_id", edges).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 1, 6: 6, 7: 7}


def test_connected_components_empty_edges(spark):
    from pprl_spark.spark.graph import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).count() == 0


# --------------------------------------------------- as-of join / sessions

def test_asof_join_at_or_before_semantics(spark):
    from datetime import datetime

    from pprl_spark.spark.timeseries import asof_join

    T = datetime
    left = spark.createDataFrame(
        [(1, 7, T(2024, 1, 1, 10, 0)), (2, 7, T(2024, 1, 1, 11, 0)),
         (3, 7, T(2024, 1, 1, 9, 0)), (4, 8, T(2024, 1, 1, 12, 0))],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(7, T(2024, 1, 1, 9, 30), 100), (7, T(2024, 1, 1, 11, 0), 200)],
        "user_id long, ts timestamp_ntz, px long",
    )
    got = {r["event_id"]: r["px_asof"]
           for r in asof_join(left, right, on="ts", by="user_id",
                              value_cols=["px"]).collect()}
    assert got == {
        1: 100,   # 10:00 → latest at-or-before is 9:30
        2: 200,   # 11:00 → the equal-timestamp right row matches
        3: None,  # 9:00 → nothing before
        4: None,  # other user
    }


def test_asof_join_tie_break_deterministic(spark):
    from datetime import datetime

    from pprl_spark.spark.timeseries import asof_join

    T = datetime(2024, 1, 1, 10, 0)
    left = spark.createDataFrame([(1, 7, T)], "event_id long, user_id long, ts timestamp_ntz")
    right = spark.createDataFrame(
        [(7, T, 5, 50.0), (7, T, 9, 90.0), (7, T, 2, 20.0)],
        "user_id long, ts timestamp_ntz, rid long, val double",
    )
    row = asof_join(left, right, on="ts", by="user_id",
                    value_cols=["rid", "val"], tie_col="rid").collect()[0]
    assert (row["rid_asof"], row["val_asof"]) == (9, 90.0)  # largest tie wins


def test_sessionize_gap_golden(spark):
    from datetime import datetime, timedelta

    from pprl_spark.spark.timeseries import sessionize

    t0 = datetime(2024, 1, 1, 0, 0)
    rows = [
        (1, 7, t0),
        (2, 7, t0 + timedelta(minutes=10)),   # same session
        (3, 7, t0 + timedelta(minutes=45)),   # 35-min gap → new session
        (4, 7, t0 + timedelta(minutes=75)),   # exactly 30 min → SAME session
        (5, 8, t0),                           # other user starts at 1
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz")
    got = {r["event_id"]: r["session_seq"]
           for r in sessionize(df, gap="30 minutes", order_tie="event_id").collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_ivf_centroids_are_broadcast(spark):
    """The centroid side must reach the cross join as a BroadcastExchange
    — a shuffled N×C join would defeat the IVF scale story."""
    from pprl_spark.spark.ann import ivf_topk

    items = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    queries = items.limit(2).selectExpr("vec_id AS query_id", "embedding")
    plan = ivf_topk(items, queries, k=2, centroid_stride=7, n_centroids=8,
                    n_probe=2)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_asof_join_single_shuffle(spark):
    """The forward-fill formulation must not produce a range join or a
    per-pair explosion: exactly one Exchange feeding one window Sort."""
    from datetime import datetime

    from pprl_spark.spark.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 7, datetime(2024, 1, 1))], "event_id long, user_id long, ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(7, datetime(2024, 1, 1), 1.0)], "user_id long, ts timestamp_ntz, v double"
    )
    plan = asof_join(left, right, on="ts", by="user_id", value_cols=["v"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # one hashpartitioning exchange on the key for the window
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_timeseries_ops_are_jvm_side(spark):
    from datetime import datetime

    from pprl_spark.spark.timeseries import asof_join, sessionize

    df = spark.createDataFrame(
        [(1, 7, datetime(2024, 1, 1))], "event_id long, user_id long, ts timestamp_ntz"
    )
    r = spark.createDataFrame(
        [(7, datetime(2024, 1, 1), 1.0)], "user_id long, ts timestamp_ntz, v double"
    )
    for out in (asof_join(df, r, on="ts", by="user_id", value_cols=["v"]),
                sessionize(df, order_tie="event_id")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "BatchEvalPython" not in plan


# ----------------------------------------------------------- TF-IDF/BM25

def test_tfidf_terms_golden(spark):
    import math

    from pprl_spark.spark.textstats import tf_idf_terms

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b d"), (3, "a d")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["term"]): (r["tf"], r["tf_idf"])
           for r in tf_idf_terms(df).collect()}
    def idf(dfq):
        return math.log((3 + 1) / (dfq + 1)) + 1
    assert got[(1, "a")] == (2, 2 * idf(2))
    assert got[(1, "c")] == (1, 1 * idf(1))
    assert got[(2, "b")] == (2, 2 * idf(2))
    assert got[(3, "d")] == (1, 1 * idf(2))
    assert len(got) == 7  # (1,a),(1,b),(1,c),(2,b),(2,d),(3,a),(3,d)


def test_bm25_golden(spark):
    import math

    from pprl_spark.spark.textstats import bm25_scores

    df = spark.createDataFrame(
        [(1, "x y x"), (2, "y z"), (3, "z z z z")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bm25"]
           for r in bm25_scores(df, ["x", "z"]).collect()}
    avgdl = 3.0
    def score(tf, dfq, dl):
        idf = math.log(1 + (3 - dfq + 0.5) / (dfq + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
    assert got[1] == pytest.approx(score(2, 1, 3))
    assert got[2] == pytest.approx(score(1, 2, 2))
    assert got[3] == pytest.approx(score(4, 2, 4))


def test_tfidf_bm25_are_jvm_side(spark):
    from pprl_spark.spark.textstats import bm25_scores, tf_idf_terms

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for out in (tf_idf_terms(df), bm25_scores(df, ["a"])):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "BatchEvalPython" not in plan


# -------------------------------------------------------------- IVF ANN

def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with deterministic centroids must recover the brute-force
    rank-1 neighbor for most queries (self is always in the probed cell
    because the query IS an item here)."""
    import random

    from pprl_spark.spark.ann import brute_force_topk, ivf_topk

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    items = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = items.where("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(items, queries, k=1).collect()
    }
    approx = ivf_topk(items, queries, k=3, centroid_stride=17,
                      n_centroids=12, n_probe=4).collect()
    got = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(1 for (q, rank), v in exact.items() if v in got.get(q, set()))
    assert hits >= 6  # ≥75% rank-1 recall with 4/12 cells probed
    # rank-1 of each query is itself (cosine 1.0) — must always be found
    for q in got:
        assert q in got[q]


def test_ivf_topk_has_no_python_worker(spark):
    from pprl_spark.spark.ann import ivf_topk

    items = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    queries = items.limit(2).selectExpr("vec_id AS query_id", "embedding")
    plan = ivf_topk(items, queries, k=2, centroid_stride=7, n_centroids=4,
                    n_probe=2)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------- dedup job

def test_dedup_job_stages_end_to_end(spark, tmp_path):
    """The shipped staged dedup job (jobs/dedup_job.py): stats → pairs →
    components → canonical on sf0.001, resumable, and the canonical map
    agrees with an independent union-find over the emitted pairs."""
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
                              q=5, threshold=0.8, min_quality=0.0)
    results = Pipeline(spark, tmp_path, stages).run()
    canon = {r["doc_id"]: r for r in results["canonical"].collect()}
    assert len(canon) == 500
    pairs = [(r["id_a"], r["id_b"]) for r in results["pairs"].collect()]
    assert pairs  # the corpus has near-dups
    expected = _uf_components(500, pairs)
    for doc_id, row in canon.items():
        exp = expected[doc_id]
        assert row["canonical_doc_id"] == exp
        assert row["is_canonical"] == (doc_id == exp)
    # resume is a no-op with identical output
    again = Pipeline(spark, tmp_path, stages).run()
    assert {r["doc_id"]: r["canonical_doc_id"]
            for r in again["canonical"].collect()} \
        == {k: v["canonical_doc_id"] for k, v in canon.items()}


def test_cli_dedup_end_to_end(spark, tmp_path):
    """`python -m pprl_spark dedup` over the testdata parquet produces a
    canonical map whose non-singleton clusters match the library path."""
    import csv

    from pprl_spark.cli import build_parser

    out = tmp_path / "canon.csv"
    args = build_parser().parse_args(
        ["dedup", "/root/testdata/sf0.001/documents.parquet", str(out)]
    )
    args.fn(args, spark)
    with open(out) as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == 500
    non_singleton = [r for r in rows if int(r["cluster_size"]) > 1]
    assert non_singleton  # corpus has near-dups
    for r in rows:
        assert (r["is_canonical"] == "true") == (r["doc_id"] == r["canonical_doc_id"])


# ------------------------------------------------------- salted join

def test_salted_join_equals_plain_join(spark):
    """A hot key (90% of big-side rows) salted over 8 partitions must
    reproduce the plain join exactly, and the salt must actually spread
    the hot key (all 8 salt values hit)."""
    from pyspark.sql import functions as F

    from pprl_spark.spark.skew import salted_join

    big = spark.range(0, 2000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 5).alias("k"),
    )
    small = spark.createDataFrame([(i, f"v{i}") for i in range(8)], "k long, val string")
    got = salted_join(big, small, on="k", salt_src="rid", n_salt=8)
    plain = big.join(small, "k")
    assert got.count() == plain.count()
    assert got.exceptAll(plain).count() == 0 and plain.exceptAll(got).count() == 0
    salts = (big.where(F.col("k") == 7)
             .select(F.pmod(F.xxhash64("rid"), F.lit(8)).alias("s"))
             .distinct().count())
    assert salts == 8


def test_salted_join_rejects_outer(spark):
    from pprl_spark.spark.skew import salted_join

    big = spark.createDataFrame([(1, 10)], "rid long, k long")
    small = spark.createDataFrame([(10, "x")], "k long, val string")
    with pytest.raises(ValueError, match="outer"):
        salted_join(big, small, on="k", salt_src="rid", how="full")


def test_ivf_rejects_empty_centroids(spark):
    from pprl_spark.spark.ann import ivf_topk

    items = spark.createDataFrame(
        [(i + 1_000_000, [1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    q = items.limit(1).selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(ValueError, match="no centroid rows"):
        ivf_topk(items, q, centroid_stride=7, n_centroids=4)


def test_asof_join_rejects_column_clash(spark):
    from datetime import datetime

    from pprl_spark.spark.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 7, datetime(2024, 1, 1), 0.0)],
        "event_id long, user_id long, ts timestamp_ntz, v_asof double",
    )
    right = spark.createDataFrame(
        [(7, datetime(2024, 1, 1), 1.0)], "user_id long, ts timestamp_ntz, v double"
    )
    with pytest.raises(ValueError, match="already exist"):
        asof_join(left, right, on="ts", by="user_id", value_cols=["v"])


def test_salted_join_left_outer(spark):
    from pprl_spark.spark.skew import salted_join

    big = spark.createDataFrame([(1, 10), (2, 99)], "rid long, k long")
    small = spark.createDataFrame([(10, "x")], "k long, val string")
    rows = {r["rid"]: r["val"]
            for r in salted_join(big, small, on="k", salt_src="rid",
                                 n_salt=4, how="left").collect()}
    assert rows == {1: "x", 2: None}


def test_q6_filters_reach_the_scan(spark):
    import __spark_entry__ as E

    plan = (E.q6_forecast_revenue(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters:" in plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        # every range predicate must appear inside the pushed-filter list
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert frag in pushed, frag


def test_q14_broadcasts_part(spark):
    import __spark_entry__ as E

    plan = (E.q14_promo_effect(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_streaming_dedup_exact(spark, tmp_path):
    """Duplicated texts within the watermark window collapse to one row;
    distinct texts all pass."""
    from datetime import datetime, timedelta

    from pprl_spark.streaming import streaming_dedup_exact

    t0 = datetime(2024, 1, 1)
    rows = [(i, f"text-{i % 6}", t0 + timedelta(minutes=i)) for i in range(24)]
    src = tmp_path / "src"
    spark.createDataFrame(rows, "event_id long, text string, ts timestamp") \
        .coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_id long, text string, ts timestamp"
    ).parquet(str(src))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (streaming_dedup_exact(stream, "text", "ts", watermark="10 hours")
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 6
    assert {r["text"] for r in got} == {f"text-{i}" for i in range(6)}


def test_stream_job_incremental_and_resumable(spark, tmp_path):
    """The composed streaming job (jobs/stream_job.py): first pass encodes
    the deduped batch-1 pages; a second pass with NEW files resumes from
    the checkpoint and appends only the new unique pages."""
    import importlib.util
    import pathlib
    from datetime import datetime, timedelta

    spec = importlib.util.spec_from_file_location(
        "stream_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "stream_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    t0 = datetime(2024, 1, 1)
    rows1 = [(f"u{i}", f"text-{i % 4}", "en", t0 + timedelta(minutes=i))
             for i in range(8)]
    spark.createDataFrame(rows1, job.PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q = job.build_query(spark, src, out, ckpt, once=True)
    q.awaitTermination(180)
    first = spark.read.parquet(out).collect()
    assert len(first) == 4  # 8 rows, 4 distinct texts

    rows2 = [(f"v{i}", f"text-{i}", "en", t0 + timedelta(minutes=20 + i))
             for i in range(2, 6)]  # text-2/3 are dups of batch 1
    spark.createDataFrame(rows2, job.PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q = job.build_query(spark, src, out, ckpt, once=True)
    q.awaitTermination(180)
    both = spark.read.parquet(out).collect()
    assert len(both) == 6  # only text-4 and text-5 are new
    assert all(len(bytes(r["bloom"])) == 128 for r in both)


def test_connected_components_path_graph_converges_logarithmically(spark):
    """Worst-case diameter: a 4096-node path must converge (star rounds
    contract chains exponentially) well inside the 50-round cap, and
    label every node with the path minimum."""
    n = 4096
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    from pprl_spark.spark.graph import connected_components

    got = connected_components(edges).collect()
    assert len(got) == n
    assert all(r["component"] == 0 for r in got)


def test_connected_components_frees_replaced_checkpoints(spark):
    """Each round's local checkpoint is freed once the next one is
    materialized: a call leaves at most the returned frame's checkpoint
    cached, not one per round."""
    from pprl_spark.spark.graph import connected_components

    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    got = connected_components(edges)
    assert cached().size() - before <= 1
    rows = got.collect()
    assert len(rows) == n and all(r["component"] == 0 for r in rows)
    assert cached().size() - before <= 1


# ------------------------------------------------- deterministic sampling

def test_hash_sample_partition_invariant(spark):
    from pprl_spark.spark.sampling import hash_sample

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    ids1 = {r["k"] for r in hash_sample(df.repartition(3), "k", 0.2).collect()}
    ids2 = {r["k"] for r in hash_sample(df.repartition(17), "k", 0.2).collect()}
    assert ids1 == ids2
    assert 0.15 < len(ids1) / 5000 < 0.25
    # different salts give (nearly) independent draws
    ids3 = {r["k"] for r in hash_sample(df, "k", 0.2, salt="x").collect()}
    overlap = len(ids1 & ids3) / max(len(ids1), 1)
    assert 0.05 < overlap < 0.4  # ≈0.2 if independent


def test_hash_split_proportions_and_stability(spark):
    from pyspark.sql import functions as F

    from pprl_spark.spark.sampling import hash_split

    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    out = hash_split(df, "k", [0.8, 0.1, 0.1])
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts[0] / 10_000 - 0.8) < 0.02
    assert abs(counts[1] / 10_000 - 0.1) < 0.01
    assert abs(counts[2] / 10_000 - 0.1) < 0.01
    # appending rows never reassigns existing ones
    sub = hash_split(df.where("k < 100"), "k", [0.8, 0.1, 0.1])
    full_map = {r["k"]: r["split"] for r in out.where("k < 100").collect()}
    assert {r["k"]: r["split"] for r in sub.collect()} == full_map


def test_hash_split_validates_weights(spark):
    from pprl_spark.spark.sampling import hash_sample, hash_split

    df = spark.range(1).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "k", [0.5, 0.4])
    with pytest.raises(ValueError, match="fraction"):
        hash_sample(df, "k", 1.5)


# ------------------------------------------------------- theta sketch

def _theta_hashes(n, seed):
    import numpy as np

    r = np.random.default_rng(seed)
    return r.integers(0, 1 << 63, size=n, dtype=np.int64) * 2 + 1


def test_theta_exact_below_k_and_bounded_above():
    from pprl_spark.sketch import ThetaSketch

    t = ThetaSketch(k=64)
    t.update(_theta_hashes(50, 1))
    assert t.estimate() == 50.0 and t.theta == 1.0

    import numpy as np

    t = ThetaSketch(k=1024)
    h = _theta_hashes(100_000, 2)
    t.update(h)
    exact = len(np.unique(h))
    assert abs(t.estimate() - exact) / exact < 4 * t.relative_error


def test_theta_merge_bit_identical_across_splits():
    import numpy as np

    from pprl_spark.sketch import ThetaSketch, deserialize

    h = _theta_hashes(50_000, 3)
    full = ThetaSketch(k=512)
    full.update(h)
    for splits in (2, 7, 32):
        acc = ThetaSketch(k=512)
        for part in np.array_split(h, splits):
            s = ThetaSketch(k=512)
            s.update(part)
            acc.merge(s)
        assert acc.serialize() == full.serialize()
    assert deserialize(full.serialize()).serialize() == full.serialize()


def test_theta_set_operations():
    import numpy as np

    from pprl_spark.sketch import ThetaSketch

    a_h = _theta_hashes(50_000, 4)
    b_h = np.concatenate([a_h[:30_000], _theta_hashes(40_000, 5)])
    a = ThetaSketch(k=2048)
    a.update(a_h)
    b = ThetaSketch(k=2048)
    b.update(b_h)
    exact_i = len(np.intersect1d(np.unique(a_h), np.unique(b_h)))
    exact_u = len(np.union1d(a_h, b_h))
    assert abs(a.estimate_intersection(b) - exact_i) / exact_i < 0.1
    assert abs(a.estimate_union(b) - exact_u) / exact_u < 0.1
    # intersection must be symmetric
    assert a.estimate_intersection(b) == b.estimate_intersection(a)


def test_theta_spark_column_matches_local(spark):
    """sketch_column over an 8-partition frame must produce the same
    state as a local single-pass build (bottom-k merge associativity)."""
    from pyspark.sql import functions as F

    from pprl_spark.sketch import ThetaSketch, sketch_column

    df = spark.range(0, 20_000, numPartitions=8).select(
        (F.col("id") % 3_000).cast("string").alias("v")
    )
    sk = sketch_column(df, "v", lambda: ThetaSketch(k=256))
    hashes = [r["h"] for r in df.select(F.xxhash64("v").alias("h")).collect()]
    local = ThetaSketch(k=256)
    local.update(hashes)
    assert sk.serialize() == local.serialize()
    assert abs(sk.estimate() - 3_000) / 3_000 < 4 * sk.relative_error


# ------------------------------------------------- rehash oracle helpers

def test_rehash_seed_table_matches_kernel():
    """The oracle's enumerated seed→positions table must replay the kernel:
    apply rehash to random vectors and check output equals input OR the
    table positions of each window's byte value."""
    import numpy as np

    from pprl_spark.kernels.harden import rehash

    m, ws, step, k = 512, 8, 8, 2
    fn = rehash(ws, step, k)
    import random as _random

    table = {}
    for v in range(256):
        rng = _random.Random(v)
        table[v] = {rng.randrange(m) for _ in range(k)}
    rng = np.random.default_rng(42)
    for _ in range(5):
        bits = rng.random(m) < 0.3
        out = fn(bits)
        expected = bits.copy()
        packed = np.packbits(bits)
        for wi in range(0, (m - ws) // step + 1):
            for j in table[int(packed[wi * step // 8])]:
                expected[j] = True
        assert np.array_equal(out, expected)
