"""Training-data pipeline operators: dedup families, ANN, text stats,
multimodal plumbing, and the deterministic pages fixture."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pprl_spark.fixtures import make_pages, page_row
from pprl_spark.spark.ann import brute_force_topk, lsh_topk
from pprl_spark.spark.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    jaccard_verify,
    minhash_lsh_pairs,
    ngram_jaccard,
    qgram_tokens,
    simhash_pairs,
)
from pprl_spark.spark.multimodal import decode_image_features, sample_frames
from pprl_spark.spark.textstats import with_text_stats


@pytest.fixture(scope="module")
def pages(spark):
    return make_pages(spark, 1500, partitions=4).cache()


def test_pages_deterministic_and_partition_invariant(spark):
    a = make_pages(spark, 300, partitions=2).orderBy("url").collect()
    b = make_pages(spark, 300, partitions=7).orderBy("url").collect()
    assert a == b
    assert a[5]["url"] == page_row(5)["url"]
    assert a[5]["text"] == page_row(5)["text"]


def test_pages_have_near_duplicates(pages):
    # rows with i % 101 == 0 reuse the previous row's text with one swap
    texts = {r["url"]: r["text"] for r in pages.collect()}
    u_prev = page_row(100)["url"]
    u_dup = page_row(101)["url"]
    w_prev, w_dup = texts[u_prev].split(), texts[u_dup].split()
    assert len(w_prev) == len(w_dup)
    assert sum(a != b for a, b in zip(w_prev, w_dup)) == 1


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["dup_count"] for r in exact_dedup(df, "text", "doc_id").collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_duplicates(spark, pages):
    dup_urls = {(page_row(i - 1)["url"], page_row(i)["url"]) for i in range(101, 1500, 101)}
    cands = minhash_lsh_pairs(pages, "url", "text", q=5, num_hashes=64, bands=16)
    verified = jaccard_verify(cands, pages, "url", "text", q=5, threshold=0.6)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    found = sum(1 for a, b in dup_urls if (min(a, b), max(a, b)) in got)
    assert found / len(dup_urls) >= 0.9, f"minhash recall {found}/{len(dup_urls)}"


@pytest.mark.parametrize("cap", [None, 4])
def test_minhash_lsh_pairs_drop_null_ids(spark, cap):
    """Null ids never pair and never fill a bucket: ids a, b, c plus two
    null-id rows of identical text, in self and cross mode."""
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [("a", text), ("b", text), ("c", text), (None, text), (None, text)],
        "id string, text string",
    )
    other = spark.createDataFrame([("x", text), (None, text)], "id string, text string")
    kw = dict(q=5, num_hashes=32, bands=8, max_bucket_size=cap)
    self_pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "id", "text", **kw).collect()}
    assert self_pairs == {("a", "b"), ("a", "c"), ("b", "c")}
    cross = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "id", "text", df_other=other, **kw).collect()
    }
    assert cross == {("a", "x"), ("b", "x"), ("c", "x")}


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame([("abcde", "abcdx")], ["a", "b"])
    got = df.select(
        ngram_jaccard(qgram_tokens("a", 2), qgram_tokens("b", 2)).alias("j")
    ).collect()[0]["j"]
    # bigrams: {ab,bc,cd,de} vs {ab,bc,cd,dx}: inter 3, union 5
    assert got == pytest.approx(3 / 5)


def test_simhash_near_duplicates_have_small_hamming(spark, pages):
    # 8 chunks of 8 bits: pigeonhole-guaranteed recall for hamming <= 7,
    # and the planted pair (hamming 8 under the md5 hash family) still
    # collides in 3 of its 8 chunks
    pairs = simhash_pairs(pages.limit(400), "url", "text", q=3, chunks=8)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    dup = (page_row(100)["url"], page_row(101)["url"])
    key = (min(dup), max(dup))
    assert key in got and got[key] <= 12
    # identical texts → hamming 0
    df = spark.createDataFrame([(1, "hello world abc"), (2, "hello world abc")], ["id", "text"])
    rows = simhash_pairs(df, "id", "text").collect()
    assert rows and rows[0]["hamming"] == 0


def _embeddings_df(spark, n=200, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(n)]
    # make 20 near-duplicates of the first 20 vectors
    for i in range(20):
        noisy = base[i] + rng.standard_normal(dim).astype(np.float32) * 0.01
        rows.append((1000 + i, noisy.tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_cosine_pairs(spark):
    df = _embeddings_df(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(
            df, "vec_id", "embedding", threshold=0.99, num_planes=8
        ).collect()
    }
    found = sum(1 for i in range(20) if (i, 1000 + i) in got)
    assert found >= 16, f"found only {found}/20 planted near-duplicates"


def test_brute_force_topk_self_hit(spark):
    df = _embeddings_df(spark, n=100)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(df, queries, k=3)
    best = {r["query_id"]: r["vec_id"] for r in top.filter(F.col("rank") == 1).collect()}
    assert best == {i: i for i in range(5)}, "rank-1 neighbor must be the vector itself"


def test_lsh_topk_recall_vs_brute_force(spark):
    df = _embeddings_df(spark, n=300)
    queries = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(df, queries, k=1).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in lsh_topk(df, queries, k=1, num_planes=10, probes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH ANN rank-1 recall {recall}"


def test_text_stats_columns(spark):
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox jumped over the lazy dog", "en"),
            (2, "der hund und die katze sind mit den kindern auf der wiese", "de"),
            (3, "le chat est dans la maison et les enfants pour toujours", "fr"),
            (4, "", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = {r["doc_id"]: r for r in with_text_stats(df).collect()}
    assert rows[1]["n_tokens_ws"] == 9
    assert rows[1]["n_tokens_bpe"] == 9
    assert rows[4]["n_tokens_ws"] == 0
    assert rows[1]["lang_pred"] == "en"
    assert rows[2]["lang_pred"] == "de"
    assert rows[3]["lang_pred"] == "fr"
    assert rows[4]["lang_pred"] == "und"
    assert 0.0 <= rows[1]["quality"] <= 1.0
    # identical text → identical fingerprint; different → different
    df2 = spark.createDataFrame([(1, "a b  c"), (2, "a b c"), (3, "a b d")], ["doc_id", "text"])
    fps = {r["doc_id"]: r["fingerprint"] for r in with_text_stats(df2).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_text_stats_plan_is_narrow(spark, pages):
    plan = with_text_stats(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_multimodal_decode_stub(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 5000)), (2, bytearray(b"y" * 300))],
        "doc_id long, payload binary",
    )
    feats = {r["doc_id"]: r for r in decode_image_features(df, embedding_dim=8).collect()}
    assert set(feats) == {1, 2}
    assert len(feats[1]["embedding"]) == 8
    assert feats[1]["sha256"] != feats[2]["sha256"]
    # deterministic across runs
    again = {r["doc_id"]: r for r in decode_image_features(df, embedding_dim=8).collect()}
    assert again[1]["embedding"] == feats[1]["embedding"]


def test_multimodal_real_decoder_parses_png_and_jpeg(spark):
    from pprl_spark.fixtures import make_jpeg_bytes, make_png_bytes

    df = spark.createDataFrame(
        [
            (1, bytearray(make_png_bytes(320, 200, color_type=2))),
            (2, bytearray(make_jpeg_bytes(640, 480, n_components=3))),
            (3, bytearray(make_png_bytes(12, 999, color_type=0))),
        ],
        "doc_id long, payload binary",
    )
    feats = {r["doc_id"]: r for r in decode_image_features(df, decoder="real").collect()}
    assert (feats[1]["format"], feats[1]["width"], feats[1]["height"], feats[1]["n_channels"]) == ("png", 320, 200, 3)
    assert (feats[2]["format"], feats[2]["width"], feats[2]["height"], feats[2]["n_channels"]) == ("jpeg", 640, 480, 3)
    assert (feats[3]["format"], feats[3]["width"], feats[3]["height"], feats[3]["n_channels"]) == ("png", 12, 999, 1)
    # complete PNGs now raster-decode (r4): zero-filled fixtures give the
    # all-zero 16-dim grid embedding; the header-only JPEG stays null
    assert feats[1]["embedding"] == [0.0] * 16
    assert feats[3]["embedding"] == [0.0] * 16
    assert feats[2]["embedding"] is None


def test_multimodal_real_decoder_gates_other_formats():
    # video / exotic image formats are the remaining honest gap
    from pprl_spark.spark.multimodal import _real_image_features

    with pytest.raises(NotImplementedError, match="codec"):
        _real_image_features(b"RIFF\x00\x00\x00\x00WEBPVP8 ")  # WebP
    with pytest.raises(ValueError, match="no SOF"):
        _real_image_features(b"\xff\xd8\xff\xd9")  # SOI+EOI, no frame
    with pytest.raises(ValueError, match="IHDR"):
        _real_image_features(b"\x89PNG\r\n\x1a\n" + b"\x00" * 24)


def test_sample_frames(spark):
    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(256)) * 20))], "doc_id long, payload binary"
    )
    rows = sample_frames(df, every_n_bytes=1024, max_frames=4).collect()
    assert len(rows) == 4
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2, 3]
