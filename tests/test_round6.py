"""Round-5 fixes and features (file named for the next driver round).

ADVICE r4 regression tests:
- GIF LZW width convention against REAL external-encoder GIFs
  (python stdlib idlelib icons), not just our own fixture round-trips.
- streaming quality-filter bigram tokenization parity with Java \\s+.
- JPEG SOS component-selector resolution.
"""

from __future__ import annotations

import glob
import os
import struct

import pytest
from pyspark.sql import functions as F


def _idlelib_gifs():
    try:
        import idlelib  # noqa: F401
    except ImportError:  # pragma: no cover
        return []
    icons = os.path.join(os.path.dirname(idlelib.__file__), "Icons")
    return sorted(glob.glob(os.path.join(icons, "*.gif")))


def _extract_first_frame(payload: bytes):
    """(min_code_size, lzw_data, iw, ih, interlaced) of the first image."""
    flags = payload[10]
    i = 13 + ((2 << (flags & 7)) * 3 if flags & 0x80 else 0)
    while i < len(payload):
        b = payload[i]
        if b == 0x21:  # extension
            i += 2
            while payload[i] != 0:
                i += 1 + payload[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            _ix, _iy, iw, ih, ifl = struct.unpack_from("<HHHHB", payload, i + 1)
            i += 10
            if ifl & 0x80:
                i += (2 << (ifl & 7)) * 3
            mcs = payload[i]
            i += 1
            data = bytearray()
            while payload[i] != 0:
                n = payload[i]
                data += payload[i + 1 : i + 1 + n]
                i += 1 + n
            return mcs, bytes(data), iw, ih, bool(ifl & 0x40)
        else:
            break
    raise ValueError("no image frame")


@pytest.mark.skipif(not _idlelib_gifs(), reason="idlelib icons unavailable")
def test_gif_lzw_decodes_real_external_encoder_gifs():
    """ADVICE r4 (high): the decoder previously used the TIFF early-change
    width rule and rejected every real-world GIF.  Ground truth: GIFs
    shipped with the python stdlib, produced by external encoders.  The
    decoded index stream must have exactly width*height entries and every
    index must be in palette range."""
    from pprl_spark.spark.multimodal import _gif_lzw_decode

    files = _idlelib_gifs()
    assert len(files) >= 5  # the stdlib ships ~9 icons
    for path in files:
        payload = open(path, "rb").read()
        mcs, data, iw, ih, _interlaced = _extract_first_frame(payload)
        out = _gif_lzw_decode(data, mcs)
        assert len(out) == iw * ih, os.path.basename(path)
        assert max(out) < 256


@pytest.mark.skipif(not _idlelib_gifs(), reason="idlelib icons unavailable")
def test_gif_image_pixel_features_on_real_gif(spark):
    """End-to-end: image_pixel_features must not raise on a real GIF
    (non-interlaced, global palette) — ADVICE r4 reported it raised
    mid-job on any real payload."""
    from pprl_spark.spark.multimodal import image_pixel_features

    chosen = None
    for path in _idlelib_gifs():
        payload = open(path, "rb").read()
        flags = payload[10]
        _mcs, _data, _iw, _ih, interlaced = _extract_first_frame(payload)
        if (flags & 0x80) and not interlaced:
            chosen = payload
            break
    assert chosen is not None
    df = spark.createDataFrame([(1, chosen)], "doc_id long, payload binary")
    row = image_pixel_features(df).collect()[0]
    assert row["format"] == "gif"
    assert row["width"] > 0 and row["height"] > 0
    assert 0.0 <= row["mean_full"] <= 255.0


def test_streaming_bigram_udf_matches_batch_on_unicode_whitespace(spark):
    """ADVICE r4: the UDF used python str.split() (Unicode whitespace)
    while the batch path splits on Java \\s+ (ASCII-only).  Text joined
    by \\xa0 / \\u2003 must produce identical top-bigram fractions from
    the per-row UDF and the explode + aggregate reference."""
    from pprl_spark.spark.quality import ngram_char_stats, ngram_char_stats_udf

    rows = [
        (1, "x\xa0x x\xa0x x\xa0x y"),          # nbsp-joined tokens
        (2, "a\u2003b a\u2003b c d"),  # em-space-joined tokens
        (3, "plain words repeated words repeated"),
        (4, "\xa0"),                              # only unicode ws: 1 word
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["doc_id"]: r["top_bigram_fraction"]
        for r in ngram_char_stats(df, top_ns=(), dup_ns=()).collect()
    }
    via_udf = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id",
            ngram_char_stats_udf("text", (), ())["top_bigram_fraction"].alias("f"),
        ).collect()
    }
    assert via_udf == pytest.approx(batch)
    # sanity: the old str.split() behavior would have read 5/6 here
    assert batch[1] == pytest.approx(2 / 3)


def test_jpeg_sos_component_order_differs_from_sof():
    """ADVICE r4: a spec-legal JPEG may list SOS components in a
    different order than SOF0; the decoder must resolve each scan entry
    by its component selector, not by position.  One 8x8 MCU, 4:4:4,
    DC-only blocks (bit-exact through the codec): Y=200, Cb=Cr=128 ->
    every RGB channel must read 200.  With positional indexing the Y
    plane would land in Cr and the image would decode wildly wrong."""
    import numpy as np

    from pprl_spark.fixtures import make_jpeg_from_quantized
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    def dc_block(v):
        blk = [0] * 64
        blk[0] = 8 * (v - 128)
        return blk

    y, cb, cr = dc_block(200), dc_block(128), dc_block(128)
    # scan order (Cr, Y, Cb) = frame indices (2, 0, 1); blocks follow it
    payload = make_jpeg_from_quantized(
        8, 8, [cr, y, cb], sampling=((1, 1),) * 3, scan_order=(2, 0, 1)
    )
    px = decode_jpeg_pixels(payload)
    assert px.shape == (8, 8, 3)
    assert np.all(px == 200)
    # identity order sanity check (same blocks, canonical layout)
    px2 = decode_jpeg_pixels(
        make_jpeg_from_quantized(8, 8, [y, cb, cr], sampling=((1, 1),) * 3)
    )
    assert np.array_equal(px, px2)


# ---------------------------------------------------------------------------
# Gopher n-gram repetition family (VERDICT r4 #2)
# ---------------------------------------------------------------------------


def _py_gopher(t, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    """Independent reference implementation of the documented semantics."""
    import re
    from collections import Counter

    PACK = 1 << 30
    ws = [w for w in re.split(r"[ \t\n\x0b\f\r]+", t or "") if w]
    out = {}
    for n in sorted({*top_ns, *dup_ns}):
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        counts = Counter(grams)
        if n in top_ns:
            if not counts or not t:
                out[f"top_{n}gram_char_frac"] = 0.0
            else:
                best = max(
                    c * PACK + min(len(g), PACK - 1) for g, c in counts.items()
                )
                out[f"top_{n}gram_char_frac"] = (
                    (best >> 30) * (best % PACK) / len(t)
                )
        if n in dup_ns:
            den = sum(c * len(g) for g, c in counts.items())
            num = sum(c * len(g) for g, c in counts.items() if c >= 2)
            out[f"dup_{n}gram_char_frac"] = num / den if den else 0.0
    return out


_GOPHER_TEXTS = [
    (1, "spam spam spam spam spam eggs"),                      # heavy repeat
    (2, "the quick brown fox jumps over one lazy dog while seventeen "
        "green wizards calmly debate obscure maps beneath ancient oak "
        "trees during winter solstice celebrations near quiet mountain "
        "villages when curious travelers gather around warm fires "
        "telling long stories about distant harbors golden deserts "
        "forgotten castles silver rivers midnight journeys and many "
        "unusual discoveries awaiting explorers everywhere tomorrow"),  # unique
    (3, "a b c d e a b c d e a b c d e a b c d e"),            # period-5 loop
    (4, "one two three"),                                      # < 5 words
    (5, "solo"),                                               # 1 word: no grams
    (6, ""),                                                   # empty
    (7, "x " * 30),                                            # single word loop
    (8, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # 10-gram dup
]


def test_ngram_char_stats_batch_matches_reference(spark):
    from pprl_spark.spark.quality import ngram_char_stats

    df = spark.createDataFrame(_GOPHER_TEXTS, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in ngram_char_stats(df).collect()}
    for doc_id, t in _GOPHER_TEXTS:
        expect = _py_gopher(t)
        for k, v in expect.items():
            assert got[doc_id][k] == pytest.approx(v), (doc_id, k)
    # sanity on the semantics themselves
    assert got[3]["dup_5gram_char_frac"] == pytest.approx(1.0)  # full loop
    # doubled 10-word block: the only duplicated 10-gram window pair is
    # (pos 1, pos 11) → occurrence mass ~2/11 (the documented deviation
    # from Gopher's char-position marking, which would read ~1.0 here)
    assert 0.1 < got[8]["dup_10gram_char_frac"] < 0.25
    assert got[2]["dup_5gram_char_frac"] == 0.0                 # unique text
    assert got[1]["top_2gram_char_frac"] > 0.5                  # spam spam


def test_ngram_char_stats_udf_matches_batch(spark):
    """Per-row (UDF) path field-identical to the batch aggregate,
    including unicode-whitespace documents (Java \\s+ convention): the
    default n-gram family, the bigram lane alone, and the full family
    with the line/paragraph lanes."""
    rows = _GOPHER_TEXTS + [(9, "p\xa0q p\xa0q p\xa0q r s t u v w x y z")]
    _assert_ngram_udf_matches_batch(spark, rows)


def _assert_ngram_udf_matches_batch(spark, rows):
    from pprl_spark.spark.quality import ngram_char_stats, ngram_char_stats_udf

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kw in (
        {},
        dict(top_ns=(), dup_ns=()),
        dict(top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10),
             with_line_paragraph=True),
    ):
        batch = {r["doc_id"]: r.asDict() for r in
                 ngram_char_stats(df, "doc_id", "text", **kw).collect()}
        udf = {r["doc_id"]: r.asDict() for r in
               df.select("doc_id", ngram_char_stats_udf("text", **kw).alias("s"))
               .select("doc_id", "s.*").collect()}
        assert set(batch) == set(udf) == {i for i, _ in rows}
        for k in batch:
            assert batch[k] == udf[k], (kw, k, batch[k], udf[k])


def test_filter_documents_with_ngram_rules(spark):
    from pprl_spark.spark.quality import FilterRules, filter_documents

    rules = FilterRules(
        min_tokens=2,
        max_top_ngram_fraction=((2, 0.20), (3, 0.18), (4, 0.16)),
        max_dup_ngram_fraction=(
            (5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10)
        ),
    )
    df = spark.createDataFrame(_GOPHER_TEXTS, "doc_id long, text string")
    out = {r["doc_id"]: r for r in filter_documents(df, rules).collect()}
    assert out[1]["reject_reason"] == "repetition_top2gram"
    assert out[2]["keep"] is True
    assert out[3]["reject_reason"].startswith("repetition_top")
    assert out[5]["reject_reason"] == "too_short"
    # signal columns present and coalesced for gram-less docs
    assert out[5]["dup_10gram_char_frac"] == 0.0


# ---------------------------------------------------------------------------
# Incremental connected components (VERDICT r4 #3)
# ---------------------------------------------------------------------------


def _random_edges(rng, n_nodes, n_edges):
    return [
        (int(rng.randint(0, n_nodes)), int(rng.randint(0, n_nodes)))
        for _ in range(n_edges)
    ]


def _cc_reference(edges):
    """Union-find ground truth: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent if any(x in e for e in edges)}


def test_incremental_cc_agrees_with_full_recompute(spark):
    """CC over (batch1 + batch2 + batch3) edges must equal chaining
    prior_labels through three incremental runs — on graphs with hubs,
    chains, and cross-batch merges (components that only connect once a
    later batch arrives)."""
    import numpy as np

    from pprl_spark.spark.graph import connected_components

    rng = np.random.RandomState(42)
    edges = _random_edges(rng, 300, 260)  # sparse: many small components
    # long chain split across batches (worst case for label propagation)
    edges += [(1000 + i, 1001 + i) for i in range(30)]
    thirds = [edges[0::3], edges[1::3], edges[2::3]]

    def df(e):
        return spark.createDataFrame(
            e or [(0, 0)], "id_a long, id_b long"
        )

    full = connected_components(df(edges))
    labels = None
    for batch in thirds:
        labels = connected_components(df(batch), prior_labels=labels)
        labels = labels.localCheckpoint(eager=True)
    got_full = {r["node"]: r["component"] for r in full.collect()}
    got_inc = {r["node"]: r["component"] for r in labels.collect()}
    # incremental must cover every node full covers, with identical labels
    assert got_inc == got_full
    # and both must match the union-find ground truth on non-self edges
    expect = _cc_reference([(u, v) for u, v in edges if u != v])
    for node, comp in got_full.items():
        assert expect[node] == comp


def test_incremental_cc_empty_batch_is_identity(spark):
    from pprl_spark.spark.graph import connected_components

    base = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    labels = connected_components(base)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    again = connected_components(empty, prior_labels=labels)
    assert sorted(map(tuple, labels.collect())) == sorted(map(tuple, again.collect()))


# ---------------------------------------------------------------------------
# Decontamination: non-broadcast fallback (VERDICT r4 #5) and the
# streaming stage (VERDICT r4 #7)
# ---------------------------------------------------------------------------


def _decon_frames(spark):
    bench_sentence = (
        "the capital of france is paris and the capital of spain is madrid "
        "while the capital of italy is rome everyone knows"
    )
    train = spark.createDataFrame(
        [
            (1, "intro text " + bench_sentence + " trailing words here"),
            (2, "completely unrelated content about gardening and soil "
                "preparation for spring vegetables in raised beds today"),
            (3, bench_sentence),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(bench_sentence,)], "text string")
    return train, evals


def test_contamination_report_shuffle_join_fallback(spark):
    """broadcast_eval=False must produce identical output through a
    shuffle join — the large-eval-set path.  Assert both the values and
    the plan shape (no BroadcastHashJoin on the semi join)."""
    from pprl_spark.spark.decontaminate import contamination_report

    train, evals = _decon_frames(spark)
    kw = dict(n=13, min_hits=1)
    bc = contamination_report(train, evals, broadcast_eval=True, **kw)
    sh = contamination_report(train, evals, broadcast_eval=False, **kw)
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))
    # assert on the PRE-adaptive plan: the declared shuffle join must not
    # force a broadcast (at real eval-set scale that is what executes;
    # at this test scale AQE legitimately upgrades the tiny shuffle
    # stage to a broadcast join at runtime, which is desirable)
    plan = sh._jdf.queryExecution().sparkPlan().toString()
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi, plan
    assert not any("Broadcast" in ln for ln in semi), plan
    # and the broadcast path declares the broadcast up front
    plan_bc = bc._jdf.queryExecution().sparkPlan().toString()
    assert any(
        "BroadcastHashJoin" in ln for ln in plan_bc.splitlines() if "LeftSemi" in ln
    ), plan_bc


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Streaming decisions (broadcast-set membership UDF) must keep
    exactly the rows the batch decontaminate() keeps."""
    from pprl_spark.spark.decontaminate import decontaminate

    train, evals = _decon_frames(spark)
    train = train.withColumn("ts", F.current_timestamp())
    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ck"
    train.write.parquet(str(src))

    from pprl_spark.spark.decontaminate import streaming_decontaminate

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(str(src))
    kept_stream = streaming_decontaminate(stream, evals, "text", n=13)
    q = (
        kept_stream.select("doc_id")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(out)).collect())
    expect = sorted(
        r["doc_id"] for r in decontaminate(train, evals, n=13).collect()
    )
    assert got == expect == [2, 4]


def test_streaming_decontaminate_rejects_batch_df(spark):
    from pprl_spark.spark.decontaminate import streaming_decontaminate

    train, evals = _decon_frames(spark)
    with pytest.raises(ValueError, match="streaming"):
        streaming_decontaminate(train, evals)


def test_stream_job_decontamination_stage(spark, tmp_path):
    """The composed streaming job drops pages overlapping the benchmark
    set when --eval-src is wired in (batch/stream curation graphs now
    match: filter -> decontaminate -> dedup -> encode)."""
    import importlib.util
    import pathlib
    from datetime import datetime, timedelta

    spec = importlib.util.spec_from_file_location(
        "stream_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "stream_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    src, out, ckpt, ev = (str(tmp_path / d) for d in ("src", "out", "ckpt", "ev"))
    bench = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi")  # 14 words: one 13-gram window + one more
    t0 = datetime(2024, 1, 1)
    rows = [
        ("u1", "prefix " + bench + " suffix", "en", t0),
        ("u2", "clean document with plenty of distinct words about other "
               "topics entirely " + "filler " * 10, "en",
         t0 + timedelta(minutes=1)),
    ]
    spark.createDataFrame(rows, job.PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame([(bench,)], "text string").write.parquet(ev)
    q = job.build_query(spark, src, out, ckpt, once=True, eval_src=ev)
    q.awaitTermination(180)
    got = {r["id"] for r in spark.read.parquet(out).collect()}
    assert got == {"u2"}


def test_fused_bigram_occurrence_matches_standalone(spark):
    """filter_documents derives top_bigram_fraction from the same per-row
    pass as the n-gram signals — with and without n-gram rules, values
    must equal the explode + aggregate reference exactly."""
    from pprl_spark.spark.quality import (
        FilterRules,
        filter_documents,
        ngram_char_stats,
    )

    df = spark.createDataFrame(_GOPHER_TEXTS, "doc_id long, text string")
    expect = {
        r["doc_id"]: r["top_bigram_fraction"]
        for r in ngram_char_stats(df, top_ns=(), dup_ns=()).collect()
    }
    for rules in (FilterRules(max_top_ngram_fraction=((3, 0.9),)), FilterRules()):
        got = {
            r["doc_id"]: r["top_bigram_fraction"]
            for r in filter_documents(df, rules).collect()
        }
        assert got == expect, rules


# ---------------------------------------------------------------------------
# Gopher line/paragraph char-mass signals (completes the §A1.1 table)
# ---------------------------------------------------------------------------

_LINE_TEXTS = [
    (1, "hello world\nhello world\nsomething else\nhello world"),
    (2, "para one text here\n\npara two other words\n\npara one text here"),
    (3, "only a single line of text with no newlines at all"),
    (4, "a\n\n\na\n\nb"),          # \n{2,} split; duplicated short para
    (5, ""),
    (6, "   \n  \nx\nx"),          # blank-after-trim lines dropped
    # one repeated 2-line paragraph diluted by a 20-line unique paragraph:
    # dup_line_fraction stays low (2/24) while dup_paragraph_fraction is
    # 1/3 — the only shape where the paragraph rule can fire before lines
    (7, "\n".join(f"unique line number {i} xx" for i in range(20))
        + "\n\nrepeated alpha\nrepeated beta\n\nrepeated alpha\nrepeated beta"),
]


def _py_line_stats(t):
    import re
    from collections import Counter

    out = {}
    for key, units in (
        ("dup_line_char_frac", (t or "").split("\n")),
        ("dup_para_char_frac", re.split(r"\n{2,}", t or "")),
    ):
        kept = [u for u in units if u.strip(" ")]
        counts = Counter(kept)
        num = sum(c * len(u) for u, c in counts.items() if c >= 2)
        out[key] = num / len(t) if t else 0.0
    return out


def _line_stats(df):
    from pprl_spark.spark.quality import ngram_char_stats

    return {
        r["doc_id"]: r.asDict()
        for r in ngram_char_stats(
            df, top_ns=(), dup_ns=(), with_line_paragraph=True
        ).collect()
    }


def test_line_dup_stats_matches_reference(spark):
    """The line/paragraph lanes of the aggregate reference against the
    plain-Python reference."""
    df = spark.createDataFrame(_LINE_TEXTS, "doc_id long, text string")
    got = _line_stats(df)
    for doc_id, t in _LINE_TEXTS:
        expect = _py_line_stats(t)
        for k, v in expect.items():
            assert got[doc_id][k] == pytest.approx(v), (doc_id, k)
    # the duplicated 11-char line appears 3x in a 50-char doc
    assert got[1]["dup_line_char_frac"] == pytest.approx(33 / 50)
    assert got[3]["dup_line_char_frac"] == 0.0


def test_line_dup_stats_udf_matches_batch(spark):
    """The per-row UDF's line/paragraph lanes equal the aggregate
    reference exactly."""
    from pprl_spark.spark.quality import ngram_char_stats_udf

    df = spark.createDataFrame(_LINE_TEXTS, "doc_id long, text string")
    batch = _line_stats(df)
    udf = ngram_char_stats_udf("text", (), (), with_line_paragraph=True)
    for r in df.select("doc_id", udf.alias("s")).collect():
        got = r["s"].asDict()
        assert set(got) == set(batch[r["doc_id"]]) - {"doc_id"}
        for k, v in got.items():
            assert v == batch[r["doc_id"]][k], (r["doc_id"], k)


def test_filter_documents_line_para_rules(spark):
    from pprl_spark.spark.quality import FilterRules, filter_documents

    rules = FilterRules(
        min_tokens=1,
        max_dup_line_fraction=0.30,
        max_dup_paragraph_fraction=0.30,
        max_dup_line_char_fraction=0.20,
        max_dup_paragraph_char_fraction=0.20,
    )
    df = spark.createDataFrame(_LINE_TEXTS, "doc_id long, text string")
    out = {r["doc_id"]: r for r in filter_documents(df, rules).collect()}
    assert out[1]["reject_reason"] == "repetition_lines"      # 2/4 dup lines
    # doc 2's duplicate paragraph is also a duplicate line; the line rule
    # is declared first, so it wins (first-failing-rule contract)
    assert out[2]["reject_reason"] == "repetition_lines"
    assert out[7]["reject_reason"] == "repetition_paragraphs"
    assert out[3]["keep"] is True
    assert out[3]["dup_para_char_frac"] == 0.0                # coalesced
    # default rules: all four new thresholds inert
    base = {r["doc_id"]: r for r in filter_documents(
        df, FilterRules(min_tokens=1)).collect()}
    assert all(not r["reject_reason"].startswith("repetition_line")
               and not r["reject_reason"].startswith("repetition_para")
               for r in base.values())


def test_streaming_quality_filter_line_para_parity(spark, tmp_path):
    """Streaming decisions with the line/paragraph rules enabled are
    row-identical to batch filter_documents on multi-line docs."""
    from pprl_spark.spark.quality import FilterRules, filter_documents

    rules = FilterRules(
        min_tokens=1,
        max_dup_line_fraction=0.30,
        max_dup_paragraph_fraction=0.30,
        max_dup_line_char_fraction=0.20,
        max_dup_paragraph_char_fraction=0.20,
        max_top_ngram_fraction=((2, 0.5),),
        max_dup_ngram_fraction=((5, 0.5),),
    )
    df = spark.createDataFrame(_LINE_TEXTS, "doc_id long, text string")
    batch = {
        r["doc_id"]: (r["keep"], r["reject_reason"])
        for r in filter_documents(df, rules).collect()
    }

    from pprl_spark.spark.quality import streaming_quality_filter

    src = tmp_path / "in"
    out = tmp_path / "out"
    df.write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_quality_filter(stream, rules)
        .select("doc_id", "keep", "reject_reason")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["keep"], r["reject_reason"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == batch


def test_fused_line_lanes_match_standalone(spark):
    """ngram_char_stats(with_line_paragraph=True) rides the line/paragraph
    lanes through the n-gram explode: next to the full n-gram family they
    must equal the plain-Python line reference, and the n-gram fields
    must not move when the lanes are added."""
    from pprl_spark.spark.quality import ngram_char_stats

    df = spark.createDataFrame(_LINE_TEXTS, "doc_id long, text string")
    fused = {r["doc_id"]: r.asDict()
             for r in ngram_char_stats(df, with_line_paragraph=True).collect()}
    plain = {r["doc_id"]: r.asDict() for r in ngram_char_stats(df).collect()}
    for doc_id, t in _LINE_TEXTS:
        for k, v in _py_line_stats(t).items():
            assert fused[doc_id][k] == pytest.approx(v), (doc_id, k)
        assert {k: fused[doc_id][k] for k in plain[doc_id]} == plain[doc_id]


# ---------------------------------------------------------------------------
# Interlaced GIF decode (closes a documented NotImplementedError gap)
# ---------------------------------------------------------------------------


def test_interlaced_gif_decodes_to_exact_pattern():
    """Fixture emits rows in GIF89a appendix-E pass order with the
    interlace flag set; the decoder must reconstruct the straight
    arithmetic pattern exactly."""
    import numpy as np

    from pprl_spark.fixtures import make_patterned_gif_bytes
    from pprl_spark.spark.multimodal import decode_gif_pixels

    for doc_id, (w, h) in ((3, (17, 23)), (40, (16, 8)), (7, (5, 13))):
        px = decode_gif_pixels(
            make_patterned_gif_bytes(w, h, doc_id, interlaced=True)
        )
        expect = np.array(
            [[(doc_id + 7 * r + 3 * c) % 251 for c in range(w)] for r in range(h)],
            dtype=np.uint8,
        )[:, :, None]
        assert np.array_equal(px, expect)
        # and it matches the non-interlaced encoding of the same raster
        straight = decode_gif_pixels(make_patterned_gif_bytes(w, h, doc_id))
        assert np.array_equal(px, straight)


@pytest.mark.skipif(not _idlelib_gifs(), reason="idlelib icons unavailable")
def test_interlaced_real_gif_rows_cohere():
    """Decode the stdlib's REAL interlaced icons (folder/openfolder).
    Structural check: after de-interlacing, adjacent display rows of a
    natural image are far more similar than rows in transmission order —
    if the decoder skipped the reorder, the comparison flips."""
    import numpy as np

    from pprl_spark.spark.multimodal import decode_gif_pixels

    checked = 0
    for path in _idlelib_gifs():
        payload = open(path, "rb").read()
        _mcs, _data, _iw, ih, interlaced = _extract_first_frame(payload)
        if not interlaced or ih < 8:
            continue
        flags = payload[10]
        if not flags & 0x80:
            continue
        px = decode_gif_pixels(payload).astype(np.int32)
        order = [
            r
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for r in range(start, px.shape[0], step)
        ]
        scrambled = px[order]  # what the raster looks like un-reordered
        mad = float(np.abs(np.diff(px, axis=0)).mean())
        mad_scrambled = float(np.abs(np.diff(scrambled, axis=0)).mean())
        assert mad < mad_scrambled, (path, mad, mad_scrambled)
        checked += 1
    assert checked >= 1  # the stdlib ships at least folder.gif


def test_adam7_interlaced_png_decodes_to_exact_pattern():
    """Adam7 fixture (seven independently-filtered sub-images, mixed
    None/Sub filters) must decode to the straight arithmetic pattern;
    tricky sizes exercise empty passes (width/height < pass offsets)."""
    import numpy as np

    from pprl_spark.fixtures import make_patterned_png_bytes
    from pprl_spark.spark.multimodal import decode_png_pixels

    for doc_id, (w, h) in ((3, (17, 23)), (11, (16, 16)), (5, (3, 2)),
                           (9, (1, 1)), (21, (7, 5))):
        px = decode_png_pixels(
            make_patterned_png_bytes(w, h, doc_id, interlaced=True)
        )
        expect = np.array(
            [[(doc_id + 7 * r + 3 * c) % 251 for c in range(w)] for r in range(h)],
            dtype=np.uint8,
        )[:, :, None]
        assert np.array_equal(px, expect), (doc_id, w, h)
        straight = decode_png_pixels(make_patterned_png_bytes(w, h, doc_id))
        assert np.array_equal(px, straight)


def test_gif_local_color_table_decodes_and_overrides_global():
    """GIF89a §20: an image descriptor may carry a LOCAL color table
    that overrides the global one for that image; a file may also have
    no global table at all.  Both branches must decode to the exact
    arithmetic pattern — and when a (wrong, inverted) global table IS
    present alongside the correct local one, the local must win."""
    import struct

    import numpy as np

    from pprl_spark.fixtures import make_patterned_gif_bytes
    from pprl_spark.spark.multimodal import decode_gif_pixels

    for doc_id, (w, h) in ((4, (16, 12)), (17, (7, 5))):
        expect = np.array(
            [[(doc_id + 7 * r + 3 * c) % 251 for c in range(w)] for r in range(h)],
            dtype=np.uint8,
        )[:, :, None]
        # no GCT, palette delivered as the local color table
        lct = make_patterned_gif_bytes(w, h, doc_id, local_palette=True)
        assert np.array_equal(decode_gif_pixels(lct), expect), (doc_id, w, h)
        # now splice an INVERTED global table in front: header flags
        # declare a 256-entry GCT of gray (255-i); the correct local
        # table must still win
        screen = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
        bad_gct = bytes(v for i in range(256) for v in ((255 - i,) * 3))
        both = b"GIF89a" + screen + bad_gct + lct[13:]
        assert np.array_equal(decode_gif_pixels(both), expect), (doc_id, w, h)


def test_gif_local_color_table_interlaced():
    """Local color table composes with interlacing (both descriptor
    flags set)."""
    import numpy as np

    from pprl_spark.fixtures import make_patterned_gif_bytes
    from pprl_spark.spark.multimodal import decode_gif_pixels

    w, h, doc_id = 13, 11, 8
    px = decode_gif_pixels(
        make_patterned_gif_bytes(w, h, doc_id, interlaced=True, local_palette=True)
    )
    straight = decode_gif_pixels(make_patterned_gif_bytes(w, h, doc_id))
    assert np.array_equal(px, straight)


def _lcg_jpeg_blocks(seed: int, nblocks: int, density: float, mag: int = 180):
    """Deterministic pseudo-random quantized-coefficient blocks: DC in
    [-mag, mag), each AC nonzero with probability ``density``."""
    s = (seed & 0x7FFFFFFF) or 1
    out = []
    for _ in range(nblocks):
        blk = [0] * 64
        for k in range(64):
            s = (1103515245 * s + 12345) & 0x7FFFFFFF
            if k == 0:
                blk[0] = (s % (2 * mag)) - mag
            elif (s / 0x7FFFFFFF) < density:
                s = (1103515245 * s + 12345) & 0x7FFFFFFF
                blk[k] = (s % (2 * mag)) - mag
        out.append(blk)
    return out


def test_progressive_jpeg_decodes_identically_to_baseline():
    """The SAME quantized coefficients in a baseline (SOF0) and a
    progressive (SOF2) container must decode to bit-identical pixels —
    the multi-scan path (DC first/refine, spectral-selection AC bands,
    two successive-approximation refinement passes, cross-block EOB
    runs) reconstructs exactly the coefficients the one-scan path reads
    directly.  Cases cover 4:4:4 / 4:2:2 / 4:2:0, non-MCU-aligned edges
    (where non-interleaved AC scans cover FEWER blocks than the
    MCU-aligned grid), sparse blocks (long EOB runs needing EOBn extra
    bits), and restart intervals in both interleaved and non-interleaved
    scans."""
    import numpy as np

    from pprl_spark.fixtures import (
        make_jpeg_from_quantized,
        make_progressive_jpeg_from_quantized,
    )
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    cases = [
        (101, ((1, 1),), 24, 16, 0.25, 0),
        (202, ((1, 1), (1, 1), (1, 1)), 20, 12, 0.25, 0),
        (303, ((2, 2), (1, 1), (1, 1)), 20, 24, 0.2, 0),
        (404, ((2, 1), (1, 1), (1, 1)), 36, 16, 0.2, 0),
        (505, ((2, 2), (1, 1), (1, 1)), 48, 32, 0.02, 0),
        (606, ((1, 1),), 64, 64, 0.004, 0),
        (707, ((2, 2), (1, 1), (1, 1)), 32, 32, 0.15, 2),
        (808, ((1, 1),), 40, 24, 0.3, 3),
    ]
    for seed, sampling, w, h, density, ri in cases:
        h_max = max(s[0] for s in sampling)
        v_max = max(s[1] for s in sampling)
        mcus = (-(-w // (8 * h_max))) * (-(-h // (8 * v_max)))
        nblocks = mcus * sum(hi * vi for hi, vi in sampling)
        blocks = _lcg_jpeg_blocks(seed, nblocks, density)
        base = decode_jpeg_pixels(
            make_jpeg_from_quantized(w, h, blocks, sampling=sampling)
        )
        prog = decode_jpeg_pixels(
            make_progressive_jpeg_from_quantized(
                w, h, blocks, sampling=sampling, restart_interval=ri
            )
        )
        assert np.array_equal(base, prog), (seed, sampling, w, h, ri)


def test_progressive_jpeg_refinement_zrl_and_correction_bits():
    """Crafted coefficients force the refinement-scan corner cases: a
    newly-nonzero coefficient beyond a >16-zero-history run (ZRL inside
    a refinement scan with buffered correction bits), blocks whose only
    content is correction bits (coded purely via the EOB run), and a
    custom scan script whose refinement goes through two levels."""
    import numpy as np

    from pprl_spark.fixtures import (
        _ZIGZAG,
        make_jpeg_from_quantized,
        make_progressive_jpeg_from_quantized,
    )
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    def blk_at(pairs):
        b = [0] * 64
        for k, v in pairs:  # k is the SCAN (zigzag) index
            b[_ZIGZAG[k]] = v
        return b

    blocks = [
        # early previously-nonzero (|v|>=8 → nonzero at Al=2,1), then a
        # newly-nonzero magnitude-1-at-Al=1 coef after 20 zero positions
        blk_at([(0, 40), (2, -9), (23, 3), (63, 5)]),
        # correction-bits-only block: nothing newly nonzero at Al=1
        blk_at([(0, -100), (5, 12), (60, -8)]),
        # all-zero AC band (pure EOB-run member)
        blk_at([(0, 7)]),
        # dense-ish tail to end the run
        blk_at([(1, 1), (17, -2), (40, 6), (62, -3)]),
    ]
    base = decode_jpeg_pixels(make_jpeg_from_quantized(16, 16, blocks))
    prog = decode_jpeg_pixels(
        make_progressive_jpeg_from_quantized(16, 16, blocks)
    )
    assert np.array_equal(base, prog)
    # pure spectral selection, no successive approximation (Al=0 everywhere)
    spectral = make_progressive_jpeg_from_quantized(
        16, 16, blocks,
        scans=[((0,), 0, 0, 0, 0), ((0,), 1, 9, 0, 0), ((0,), 10, 63, 0, 0)],
    )
    assert np.array_equal(base, decode_jpeg_pixels(spectral))


def test_progressive_patterned_jpeg_matches_baseline_and_pattern():
    import numpy as np

    from pprl_spark.fixtures import (
        make_patterned_jpeg_bytes,
        make_patterned_progressive_jpeg_bytes,
    )
    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    for doc_id, (w, h) in ((5, (16, 16)), (42, (32, 24))):
        prog = decode_jpeg_pixels(
            make_patterned_progressive_jpeg_bytes(w, h, doc_id)
        )
        base = decode_jpeg_pixels(make_patterned_jpeg_bytes(w, h, doc_id))
        assert np.array_equal(prog, base)
        expect = np.array(
            [
                [(doc_id + 7 * (r // 8) + 3 * (c // 8)) % 251 for c in range(w)]
                for r in range(h)
            ],
            dtype=np.uint8,
        )[:, :, None]
        assert np.array_equal(prog, expect)


def test_progressive_jpeg_real_file_luma_parity(spark):
    """External ground truth (the GIF-LZW lesson: a self-consistent
    fixture pair can share a wrong convention): decode a real-world
    progressive JPEG (SOF2, 4:2:2, 10 scans, produced by a standard
    encoder) and compare sampled pixels against the JVM's javax.imageio
    decoder.  Luma must agree to IDCT-rounding tolerance; chroma is
    compared loosely because our upsampling is nearest-neighbor while
    ImageIO interpolates (documented behavior, same as baseline)."""
    import os

    import numpy as np
    import pytest

    from pprl_spark.spark.multimodal import decode_jpeg_pixels

    path = (
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
        "doc/rust/html/embedded-book/assets/f3.jpg"
    )
    if not os.path.exists(path):
        pytest.skip("real-world progressive JPEG not present on this box")
    jvm = spark._jvm
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    W, H = img.getWidth(), img.getHeight()
    mine = decode_jpeg_pixels(open(path, "rb").read())
    assert mine.shape == (H, W, 3)
    luma, rgb = [], []
    for yi in range(12):
        for xi in range(12):
            x = min(xi * W // 12 + 1, W - 1)
            y = min(yi * H // 12 + 1, H - 1)
            v = img.getRGB(x, y)
            r, g, b = (v >> 16) & 255, (v >> 8) & 255, v & 255
            m = mine[y, x].astype(int)
            luma.append(
                abs(0.299 * (m[0] - r) + 0.587 * (m[1] - g) + 0.114 * (m[2] - b))
            )
            rgb.append(max(abs(m[0] - r), abs(m[1] - g), abs(m[2] - b)))
    assert float(np.mean(luma)) < 1.0 and float(np.max(luma)) < 4.0, (
        np.mean(luma), np.max(luma))
    assert float(np.mean(rgb)) < 6.0, np.mean(rgb)


def test_audio_metadata_parsers_flac_mp3_ogg():
    """FLAC STREAMINFO, MPEG Layer III frame-walk (MPEG1 + MPEG2, VBR
    padding alternation), and Ogg Vorbis/Opus id-header + last-granule
    parsing — all pure stdlib, fixture round-trips."""
    from media_containers import make_flac_bytes, make_mp3_bytes, make_ogg_bytes
    from pprl_spark.spark.multimodal import (
        parse_flac_header,
        parse_mp3_header,
        parse_ogg_header,
    )

    f = parse_flac_header(make_flac_bytes(96000, 6, 24, 7_000_000))
    assert f == {
        "n_channels": 6, "sample_rate": 96000, "bits_per_sample": 24,
        "n_frames": 7_000_000, "duration_sec": 7_000_000 / 96000,
    }
    m1 = parse_mp3_header(make_mp3_bytes(30))
    assert (m1["sample_rate"], m1["n_frames"], m1["n_channels"]) == (
        44100, 30 * 1152, 2)
    m2 = parse_mp3_header(make_mp3_bytes(25, version=2, mono=True))
    assert (m2["sample_rate"], m2["n_frames"], m2["n_channels"]) == (
        22050, 25 * 576, 1)
    v = parse_ogg_header(make_ogg_bytes("vorbis", 44100, 2, 88200))
    assert (v["codec"], v["n_frames"], v["duration_sec"]) == (
        "vorbis", 88200, 2.0)
    o = parse_ogg_header(make_ogg_bytes("opus", 48000, 1, 96000))
    # Opus granules include pre-skip; the parser must subtract it
    assert (o["codec"], o["sample_rate"], o["n_frames"]) == (
        "opus", 48000, 96000)


def test_mp3_real_file_exact_frame_walk():
    """External ground truth: the real-world MP3 on this box (gsutil
    test data, MPEG2 Layer III 64 kbps 22.05 kHz) must parse, and its
    frame-walk duration must equal the independent CBR arithmetic
    audio_bytes × 8 ÷ bitrate."""
    import os

    import pytest

    from pprl_spark.spark.multimodal import parse_mp3_header

    path = "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/test.mp3"
    if not os.path.exists(path):
        pytest.skip("real-world MP3 not present on this box")
    payload = open(path, "rb").read()
    meta = parse_mp3_header(payload)
    assert meta["sample_rate"] == 22050 and meta["n_channels"] == 1
    id3 = 10 + ((payload[6] << 21) | (payload[7] << 14)
                | (payload[8] << 7) | payload[9])
    expect = (len(payload) - id3) * 8 / 64000
    assert abs(meta["duration_sec"] - expect) < 0.03


def test_video_container_parsers_mkv_webm_avi():
    from media_containers import make_avi_bytes, make_mkv_bytes
    from pprl_spark.spark.multimodal import parse_avi_header, parse_mkv_header

    m = parse_mkv_header(make_mkv_bytes(640, 360, 12345.0))
    assert m == {"format": "mkv", "width": 640, "height": 360,
                 "timescale": 1000, "duration_units": 12345}
    w = parse_mkv_header(
        make_mkv_bytes(1280, 720, 500.0, timestamp_scale=500_000, webm=True)
    )
    assert w["format"] == "webm" and w["timescale"] == 2000
    a = parse_avi_header(make_avi_bytes(320, 240, 250, 40000))
    # 250 frames at 25 fps = 10 s, expressed in exact microseconds
    assert a == {"format": "avi", "width": 320, "height": 240,
                 "timescale": 1_000_000, "duration_units": 10_000_000}


def test_decode_audio_video_features_mixed_formats(spark):
    """The Spark surfaces dispatch every supported container in one
    batch and produce exact integer durations."""
    from media_containers import (
        make_avi_bytes,
        make_flac_bytes,
        make_mkv_bytes,
        make_mp3_bytes,
        make_ogg_bytes,
    )

    from pprl_spark.fixtures import make_mp4_bytes, make_wav_bytes
    from pprl_spark.spark.multimodal import (
        decode_audio_features,
        decode_video_features,
    )

    audio = spark.createDataFrame(
        [
            (1, bytes(make_wav_bytes(8000, 1, 16, 8000))),
            (2, bytes(make_flac_bytes(44100, 2, 16, 88200))),
            (3, bytes(make_mp3_bytes(20))),
            (4, bytes(make_ogg_bytes("opus", 48000, 2, 48000))),
        ],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in decode_audio_features(audio).collect()}
    assert rows[1].format == "wav" and rows[1].n_frames == 8000
    assert rows[2].format == "flac" and rows[2].duration_sec == 2.0
    assert rows[3].format == "mp3" and rows[3].n_frames == 20 * 1152
    assert rows[4].format == "opus" and rows[4].duration_sec == 1.0
    video = spark.createDataFrame(
        [
            (1, bytes(make_mp4_bytes(640, 480, 600, 1800))),
            (2, bytes(make_mkv_bytes(1920, 1080, 60_000.0))),
            (3, bytes(make_avi_bytes(320, 240, 100, 33367))),
        ],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in decode_video_features(video).collect()}
    assert rows[1].format == "mp4" and rows[1].duration_us == 3_000_000
    assert (rows[2].format, rows[2].width, rows[2].duration_us) == (
        "mkv", 1920, 60_000_000)
    assert rows[3].format == "avi" and rows[3].duration_us == 3_336_700


# ---------------------------------------------------------------------------
# MP4 sample tables → real keyframe extraction (r5)
# ---------------------------------------------------------------------------

def test_mp4_sample_tables_roundtrip_all_variants():
    """Every sample's (offset, size, sync) recovered from stss/stsz/stsc/
    stco must slice the exact frame bytes back out of mdat — across
    variable ids (junk-padded chunks, multi-run stsc, decoy soun trak)."""
    import hashlib

    from pprl_spark.fixtures import make_mp4_movie_bytes
    from pprl_spark.spark.multimodal import _mp4_video_samples

    for doc_id in range(30):
        n, se = 6 + doc_id % 7, 2 + doc_id % 3
        payload = make_mp4_movie_bytes(doc_id, n, se)
        samples = _mp4_video_samples(payload)
        assert len(samples) == n
        for i, (off, sz, is_sync) in enumerate(samples):
            assert payload[off : off + sz] == f"frame-{doc_id}-{i}".encode()
            assert is_sync == (i % se == 0)


def test_mp4_sample_tables_uniform_co64_no_stss():
    from pprl_spark.fixtures import make_mp4_movie_bytes
    from pprl_spark.spark.multimodal import _mp4_video_samples

    p = make_mp4_movie_bytes(7, 9, 3, uniform_size=32, co64=True, with_stss=False)
    s = _mp4_video_samples(p)
    assert len(s) == 9
    assert all(sz == 32 for _, sz, _ in s)          # uniform stsz field
    assert all(sync for _, _, sync in s)            # absent stss ⇒ all sync
    assert p[s[4][0] : s[4][0] + 10] == b"frame-7-4."


def test_mp4_sample_tables_reject_headerless_and_mismatched():
    from pprl_spark.fixtures import make_mp4_bytes, make_mp4_movie_bytes
    from pprl_spark.spark.multimodal import _mp4_video_samples

    # header-only MP4 (no vide trak with an stbl)
    with pytest.raises(ValueError, match="stbl"):
        _mp4_video_samples(make_mp4_bytes(320, 240, 600, 1200))
    # chunk map covering fewer samples than stsz declares: drop one stco
    # entry by truncating the count field
    p = bytearray(make_mp4_movie_bytes(3, 8, 2))
    i = p.rfind(b"stco")  # rfind: the decoy soun trak has an stco too
    n = int.from_bytes(p[i + 8 : i + 12], "big")
    p[i + 8 : i + 12] = (n - 1).to_bytes(4, "big")
    with pytest.raises(ValueError, match="covers"):
        _mp4_video_samples(bytes(p))


def test_sample_keyframes_spark(spark):
    """sample_keyframes over a distributed movie feed: first-4 keyframes
    per doc, content hash == hash of the logical frame string."""
    import hashlib

    from pprl_spark.fixtures import make_movie_payloads
    from pprl_spark.spark.multimodal import sample_keyframes

    docs = spark.range(40).withColumnRenamed("id", "doc_id")
    rows = sample_keyframes(
        make_movie_payloads(docs), max_frames=4
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(40))
    for doc_id, rs in by_doc.items():
        n, se = 6 + doc_id % 7, 2 + doc_id % 3
        n_sync = -(-n // se)
        assert len(rs) == min(4, n_sync)
        for r in sorted(rs, key=lambda r: r.frame_idx):
            assert r.sample_idx == r.frame_idx * se
            raw = f"frame-{doc_id}-{r.sample_idx}".encode()
            assert r.n_bytes == len(raw)
            assert r.frame_sha256 == hashlib.sha256(raw).hexdigest()


# ---------------------------------------------------------------------------
# Stupid Backoff n-gram LM (spark/lm.py) — round-5 addition
# ---------------------------------------------------------------------------

_LM_DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat sat on the hat"),
    (2, "a dog ran in the park"),
    (3, "zzz unseen words only zzz"),
    (4, "the cat"),
    (5, ""),
    (6, "   "),
    (7, "the cat sat on the mat"),
]


def _lm_py_reference(train_ids, order=3, alpha=0.4):
    """Row-at-a-time Stupid Backoff, the semantic spec for the
    distributed implementation (Brants et al. 2007 eq. 5 with the
    standard count-1 unigram floor for unseen words)."""
    import math
    from collections import Counter

    toks = {i: t.split() for i, t in _LM_DOCS}
    uni, big, tri = Counter(), Counter(), Counter()
    n_total = 0
    for i in train_ids:
        ws = toks[i]
        n_total += len(ws)
        for j, w in enumerate(ws):
            uni[w] += 1
            if j >= 1:
                big[(ws[j - 1], w)] += 1
            if j >= 2:
                tri[(ws[j - 2], ws[j - 1], w)] += 1
    out = {}
    for i, _t in _LM_DOCS:
        ws = toks[i]
        if not ws:
            out[i] = (0, 0.0, -1.0)
            continue
        lps = []
        for j, w in enumerate(ws):
            s1 = max(uni.get(w, 0), 1) / n_total
            s2 = None
            if j >= 1:
                c2 = big.get((ws[j - 1], w))
                s2 = c2 / uni[ws[j - 1]] if c2 else alpha * s1
            s3 = None
            if j >= 2:
                c3 = tri.get((ws[j - 2], ws[j - 1], w))
                s3 = c3 / big[(ws[j - 2], ws[j - 1])] if c3 else alpha * s2
            s = s3 if j >= 2 else (s2 if j >= 1 else s1)
            lps.append(math.log(s))
        avg = sum(lps) / len(lps)
        out[i] = (len(lps), avg, math.exp(-avg))
    return out


def _lm_df(spark):
    return spark.createDataFrame(_LM_DOCS, ["doc_id", "text"])


def test_lm_matches_python_reference(spark):
    """Every backoff path — seen trigram, bigram backoff, unigram
    backoff, unseen-word floor, position-1/2 level start, empty and
    whitespace-only docs — matches the row-at-a-time reference."""
    from pprl_spark.spark.lm import score_documents, train_stupid_backoff

    df = _lm_df(spark)
    counts = train_stupid_backoff(df.filter("doc_id % 2 = 0"))
    got = {
        r.doc_id: (r.n_tokens, r.avg_logprob, r.perplexity)
        for r in score_documents(df, counts).collect()
    }
    exp = _lm_py_reference([0, 2, 4, 6])
    assert set(got) == set(exp)
    for i, (n_e, lp_e, px_e) in exp.items():
        n_g, lp_g, px_g = got[i]
        assert n_g == n_e, i
        assert abs(lp_g - lp_e) < 1e-12, i
        assert abs(px_g - px_e) < 1e-9 * max(1.0, px_e), i


def test_lm_counts_partition_invariant(spark):
    """Gram counts (and therefore scores) are identical regardless of
    how the training corpus is partitioned — the merge-associativity
    requirement of the north rule applied to the counting aggregate."""
    from pprl_spark.spark.lm import train_stupid_backoff

    df = _lm_df(spark).filter("doc_id % 2 = 0")
    base = {
        (r.n, r.gram): r.cnt
        for r in train_stupid_backoff(df).collect()
    }
    for parts in (1, 3, 7):
        redistributed = {
            (r.n, r.gram): r.cnt
            for r in train_stupid_backoff(df.repartition(parts)).collect()
        }
        assert redistributed == base, parts


def test_lm_order2(spark):
    """order=2 trains no trigrams and scores with the bigram cascade."""
    from pprl_spark.spark.lm import (
        score_documents,
        train_stupid_backoff,
    )

    df = _lm_df(spark)
    counts = train_stupid_backoff(df.filter("doc_id % 2 = 0"), order=2)
    assert counts.filter("n >= 3").count() == 0
    got = {
        r.doc_id: r.n_tokens
        for r in score_documents(df, counts, order=2).collect()
    }
    assert got[0] == 6 and got[5] == 0
    # bigram-seen doc scores better than the unseen-words doc
    px = {
        r.doc_id: r.perplexity
        for r in score_documents(df, counts, order=2).collect()
    }
    assert px[0] < px[3]


def test_lm_perplexity_orders_train_vs_garbage(spark):
    """A document of training-corpus trigrams scores far lower
    perplexity than one made of unseen words (the CCNet filter
    premise), and the duplicate of a training doc scores identically
    to the original."""
    from pprl_spark.spark.lm import score_documents, train_stupid_backoff

    df = _lm_df(spark)
    counts = train_stupid_backoff(df.filter("doc_id % 2 = 0"))
    px = {
        r.doc_id: r.perplexity for r in score_documents(df, counts).collect()
    }
    assert px[0] < px[3]  # train doc beats unseen-word doc
    assert abs(px[7] - px[0]) < 1e-12  # same text, same score


def test_lm_perplexity_filter(spark):
    from pprl_spark.spark.lm import perplexity_filter, train_stupid_backoff

    df = _lm_df(spark)
    counts = train_stupid_backoff(df.filter("doc_id % 2 = 0"))
    px = {
        r.doc_id: r.perplexity
        for r in perplexity_filter(df, counts, max_perplexity=1e9).collect()
        if r.doc_id == 3
    }
    cutoff = px[3] - 1.0  # threshold just below the garbage doc's score
    rows = perplexity_filter(df, counts, max_perplexity=cutoff).collect()
    decisions = {r.doc_id: r.keep for r in rows}
    assert decisions[0] is True
    assert decisions[3] is False  # above the cutoff
    assert decisions[5] is False  # token-less: sentinel -1.0 rejects
    assert len(rows) == len(_LM_DOCS)


def test_lm_rejects_bad_order(spark):
    from pprl_spark.spark.lm import train_stupid_backoff

    with pytest.raises(ValueError, match="order"):
        train_stupid_backoff(_lm_df(spark), order=1)


def test_lm_streaming_matches_batch(spark, tmp_path):
    """streaming_perplexity_filter (broadcast counts dict + Arrow UDF)
    agrees with the batch join-cascade scorer on the same rows: exact
    token counts and keep decisions, perplexity to float rounding."""
    from pprl_spark.spark.lm import (
        counts_to_local,
        perplexity_filter,
        streaming_perplexity_filter,
        train_stupid_backoff,
    )

    batch = _lm_df(spark)
    counts = train_stupid_backoff(batch.filter("doc_id % 2 = 0"))
    cutoff = 500.0
    expect = {
        r["doc_id"]: (r["n_tokens"], r["keep"], r["perplexity"])
        for r in perplexity_filter(batch, counts, cutoff).collect()
    }

    src = tmp_path / "lm_src"
    batch.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    out_dir, ckpt = str(tmp_path / "lm_out"), str(tmp_path / "lm_ckpt")
    q = (
        streaming_perplexity_filter(stream, counts_to_local(counts), cutoff)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["n_tokens_lm"], r["keep_lm"], r["perplexity"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert set(got) == set(expect)
    for i, (n_e, k_e, px_e) in expect.items():
        n_g, k_g, px_g = got[i]
        assert (n_g, k_g) == (n_e, k_e), i
        assert abs(px_g - px_e) <= 1e-9 * max(1.0, abs(px_e)), i
    assert not all(v[1] for v in got.values())  # cutoff splits the corpus


def test_lm_streaming_rejects_batch_frame(spark):
    from pprl_spark.spark.lm import streaming_perplexity_filter

    with pytest.raises(ValueError, match="streaming"):
        streaming_perplexity_filter(_lm_df(spark), {"N": 1}, 10.0)


def test_cli_lm_train_score(spark, tmp_path):
    """`lm-train` -> counts parquet -> `lm-score --max-perplexity` CSV
    round-trip, with pruning keeping unigrams + the total marker."""
    import csv

    from pprl_spark.cli import build_parser

    docs = tmp_path / "docs.csv"
    docs.write_text(
        "doc_id,text\n"
        + "".join(
            f"{i},the quick brown fox jumps over the lazy dog\n"
            for i in range(6)
        )
        + "6,xq zv qqk wpl vnm\n"  # unseen-word garbage
    )
    counts_dir = tmp_path / "counts"
    args = build_parser().parse_args(
        ["lm-train", str(docs), str(counts_dir), "--prune-min-count", "2"]
    )
    args.fn(args, spark)
    cdf = spark.read.parquet(str(counts_dir))
    assert cdf.filter("n = 0").count() == 1  # total marker survives pruning
    assert cdf.filter("n >= 2 AND cnt < 2").count() == 0

    out = tmp_path / "scores.csv"
    args = build_parser().parse_args(
        ["lm-score", str(docs), str(out), "--counts", str(counts_dir),
         "--max-perplexity", "50"]
    )
    args.fn(args, spark)
    with open(out) as fh:
        rows = {r["doc_id"]: r for r in csv.DictReader(fh)}
    assert len(rows) == 7
    assert rows["0"]["keep"] == "true"
    assert rows["6"]["keep"] == "false"
    assert float(rows["6"]["perplexity"]) > float(rows["0"]["perplexity"])


def test_dedup_job_lm_stage(spark, tmp_path):
    """The batch curation job with --lm-max-perplexity: the LM stage
    drops perplexity outliers before dedup, downstream stages consume
    its survivors, and the staged pipeline still resumes."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "dedup_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "dedup_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    from pprl_spark.spark.pipeline import Pipeline

    src = tmp_path / "docs"
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows += [(100 + i, f"xq{i} zv{i} qqk{i} wpl{i} vnm{i} ghw{i}") for i in range(3)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(str(src))
    # trusted training corpus (the CCNet deployment): a SELF-trained
    # Stupid Backoff LM scores a singleton doc's own n-grams
    # near-perfectly (no held-out smoothing), so discrimination requires
    # an external model
    train = tmp_path / "train"
    spark.createDataFrame(
        [(1000 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id long, text string",
    ).write.parquet(str(train))

    stages = job.build_stages(str(src), q=5, threshold=0.8, min_quality=0.0,
                              lm_max_perplexity=40.0,
                              lm_train_path=str(train))
    assert [s.name for s in stages][:2] == ["stats", "lm"]
    results = Pipeline(spark, str(tmp_path / "wd"), stages).run()
    kept = {r["doc_id"] for r in results["lm"].collect()}
    assert set(range(20)) <= kept
    assert not any(d >= 100 for d in kept)  # garbage rows dropped by LM
    canon = {r["doc_id"] for r in results["canonical"].collect()}
    assert canon == kept  # downstream consumed the LM survivors
    # resume is a no-op
    again = Pipeline(spark, str(tmp_path / "wd"), stages).run()
    assert {r["doc_id"] for r in again["canonical"].collect()} == canon


def test_stream_job_lm_stage(spark, tmp_path):
    """jobs/stream_job.py with --lm-counts: the perplexity stage sits in
    the streaming graph and drops high-perplexity pages before dedup."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "stream_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "stream_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    from pprl_spark.spark.lm import train_stupid_backoff

    good = "the quick brown fox jumps over the lazy dog again and again"
    pages = [
        (f"u{i}", good, "en") for i in range(8)
    ] + [("bad0", "xq zv qqk wpl vnm ghw pel", "en")]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(
        [(u, t, lang) for u, t, lang in pages],
        "url string, text string, lang string",
    ).selectExpr("url", "text", "lang",
                 "timestamp '2026-01-01 00:00:00' as ts"
                 ).coalesce(1).write.parquet(src)

    train = spark.createDataFrame(
        [(i, good) for i in range(4)], "doc_id long, text string"
    )
    counts_dir = str(tmp_path / "counts")
    train_stupid_backoff(train).write.parquet(counts_dir)

    q = job.build_query(spark, src, out, ckpt, once=True,
                        lm_counts=counts_dir, lm_max_perplexity=100.0)
    q.awaitTermination(180)
    ids = {r["id"] for r in spark.read.parquet(out).collect()}
    # dedup collapses the 8 identical good pages to 1; the garbage page
    # is dropped by the LM stage, not deduped
    assert len(ids) == 1 and "bad0" not in ids


# ---------------------------------------------------------------------------
# webtext: HTML text extraction + URL canonicalization (round-5 addition)
# ---------------------------------------------------------------------------


def test_extract_text_fixture_byte_identity(spark):
    """Both extraction paths reproduce the pages fixture's text column
    from its html bytes byte-for-byte — the north star's per-row
    invariant ('byte-identical extracted text per url')."""
    from pprl_spark.fixtures import make_pages
    from pprl_spark.spark.webtext import extract_text_col, extract_text_udf

    pages = make_pages(spark, 300, partitions=4)
    bad = pages.select(
        "url", "text",
        extract_text_col(F.col("html")).alias("fast"),
        extract_text_udf(F.col("html")).alias("exact"),
    ).filter("fast <> text OR exact <> text")
    assert bad.count() == 0


def test_extract_text_paths_agree_and_handle_markup(spark):
    """Catalyst fast path == stdlib-parser exact path on well-formed
    markup with named entities; each strips comments/script/style; the
    documented divergence (numeric charrefs) only affects the fast
    path."""
    from pprl_spark.spark.webtext import extract_text_col, extract_text_udf

    rows = [
        (1, b"<p>a &amp; b &lt;c&gt; &quot;d&quot;</p>"),
        (2, b"<script>var x = '<p>no</p>';</script><b>kept</b>"),
        (3, b"<style type='text/css'>p > a {}</style>before <i>mid</i> after"),
        (4, b"<!-- <b>gone</b> -->shown"),
        (5, b"  spaced\n\nout\ttext  "),
        (6, None),
        (7, "caf\xe9 literal".encode()),
    ]
    df = spark.createDataFrame(rows, "id long, html binary")
    got = {
        r["id"]: (r["fast"], r["exact"])
        for r in df.select(
            "id",
            extract_text_col(F.col("html")).alias("fast"),
            extract_text_udf(F.col("html")).alias("exact"),
        ).collect()
    }
    expect = {
        1: 'a & b <c> "d"',
        2: "kept",
        3: "before mid after",
        4: "shown",
        5: "spaced out text",
        7: "caf\xe9 literal",
    }
    for i, e in expect.items():
        assert got[i] == (e, e), (i, got[i])
    assert got[6] == (None, None)
    # documented divergence: numeric charref decodes only on the exact path
    num = spark.createDataFrame([(1, b"x &#233; y")], "id long, html binary")
    r = num.select(
        extract_text_col(F.col("html")).alias("fast"),
        extract_text_udf(F.col("html")).alias("exact"),
    ).first()
    assert r["fast"] == "x &#233; y" and r["exact"] == "x \xe9 y"


def test_canonicalize_url_cases(spark):
    from pprl_spark.spark.webtext import (
        canonicalize_url,
        registered_domain,
        url_host,
    )

    cases = [
        # (input, canonical)
        ("https://Example.COM:443/a/b?utm_source=x&b=2&a=1#frag",
         "https://example.com/a/b?a=1&b=2"),
        ("HTTP://HOST:80", "http://host"),
        ("http://host:80/", "http://host"),
        ("http://site.co.uk:8080/path", "http://site.co.uk:8080/path"),
        ("https://h/?fbclid=abc", "https://h"),
        ("https://h/p?z=1&y=2&z=0", "https://h/p?y=2&z=0&z=1"),
        ("not a url", "not a url"),           # pass-through, never NULL
        ("ftp://h/p", "ftp://h/p"),           # non-http(s) pass-through
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [e for _, e in cases]

    hosts = spark.createDataFrame(
        [("https://www.blog.example.org/x",)], "url string"
    ).select(
        url_host(F.col("url")).alias("h"),
        registered_domain(F.col("url")).alias("d"),
    ).first()
    assert hosts["h"] == "www.blog.example.org"
    assert hosts["d"] == "example.org"


def test_canonicalize_url_is_dedup_stable(spark):
    """Tracking-parameter and ordering variants of the same page map to
    ONE canonical key (the dedup/join-key contract)."""
    from pprl_spark.spark.webtext import canonicalize_url

    variants = [
        "https://example.com/article?id=7&utm_source=tw",
        "https://EXAMPLE.com:443/article?id=7",
        "https://example.com/article?utm_medium=m&id=7#top",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    keys = {r["c"] for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()}
    assert keys == {"https://example.com/article?id=7"}


def test_extract_text_col_is_pure_catalyst(spark):
    """The fast path must stay JVM-side: no Python eval nodes in the
    plan (the 100 TB contract of the module)."""
    from pprl_spark.fixtures import make_pages
    from pprl_spark.spark.webtext import canonicalize_url, extract_text_col

    pages = make_pages(spark, 10, partitions=2)
    plan = (
        pages.select(
            extract_text_col(F.col("html")).alias("t"),
            canonicalize_url(F.col("url")).alias("c"),
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lm_hash_grams_agreement(spark):
    """hash_grams=True (64-bit gram keys, the 100 TB shuffle-width
    knob) produces identical scores to the exact string-keyed path on a
    collision-free corpus, and its counts refuse the streaming
    collector."""
    from pprl_spark.spark.lm import (
        counts_to_local,
        score_documents,
        train_stupid_backoff,
    )

    df = _lm_df(spark)
    train = df.filter("doc_id % 2 = 0")
    exact = {
        r.doc_id: (r.n_tokens, r.avg_logprob, r.perplexity)
        for r in score_documents(df, train_stupid_backoff(train)).collect()
    }
    hcounts = train_stupid_backoff(train, hash_grams=True)
    assert "gram_hash" in hcounts.columns and "gram" not in hcounts.columns
    assert dict(hcounts.schema["gram_hash"].jsonValue().items())["type"] == "long"
    hashed = {
        r.doc_id: (r.n_tokens, r.avg_logprob, r.perplexity)
        for r in score_documents(df, hcounts).collect()
    }
    assert hashed == exact
    with pytest.raises(ValueError, match="hash_grams"):
        counts_to_local(hcounts)


# ---------------------------------------------------------------------------
# stratified_sample (round-5 addition)
# ---------------------------------------------------------------------------


def _naive_stratified(rows, k, salt=""):
    """Reference: rank by (md5-lane, key-string) within group, keep <=k."""
    import hashlib

    def lane(key):
        h = hashlib.md5((salt + str(key)).encode()).hexdigest()[:8]
        return int(h, 16) % 2_147_483_647

    out = {}
    bygrp = {}
    for g, key in rows:
        bygrp.setdefault(g, []).append(key)
    for g, keys in bygrp.items():
        ordered = sorted(keys, key=lambda x: (lane(x), str(x)))
        out[g] = {key: i + 1 for i, key in enumerate(ordered[:k])}
    return out


def test_stratified_sample_exact_and_deterministic(spark):
    from pprl_spark.spark.sampling import stratified_sample

    rows = [(f"g{i % 3}", i) for i in range(200)] + [("tiny", 999)]
    df = spark.createDataFrame(rows, "grp string, doc_id long")
    exp = _naive_stratified(rows, k=7)
    for parts in (1, 5):
        got = {}
        res = stratified_sample(df.repartition(parts), "grp", "doc_id", k=7)
        for r in res.collect():
            got.setdefault(r["grp"], {})[r["doc_id"]] = r["sample_rank"]
        assert got == exp, parts
    # tiny group: min(k, n) rows survive
    assert len(exp["tiny"]) == 1


def test_stratified_sample_shortfall_fallback(spark):
    """Each map partition keeps only a partial per-group top-k before the
    exchange (Spark's WindowGroupLimit); with every group spread over
    many partitions, no partition alone holds a group's top-k, and the
    merged window must still return the EXACT top-k."""
    from pprl_spark.spark.sampling import stratified_sample

    rows = [(f"g{i % 2}", i) for i in range(100)]
    df = spark.createDataFrame(rows, "grp string, doc_id long")
    exp = _naive_stratified(rows, k=10)
    got = {}
    res = stratified_sample(df.repartition(9), "grp", "doc_id", k=10)
    for r in res.collect():
        got.setdefault(r["grp"], {})[r["doc_id"]] = r["sample_rank"]
    assert got == exp


def test_stratified_sample_null_policy_and_validation(spark):
    from pprl_spark.spark.sampling import stratified_sample

    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("a", None)], "grp string, doc_id long"
    )
    out = stratified_sample(df, "grp", "doc_id", k=5).collect()
    assert [(r["grp"], r["doc_id"]) for r in out] == [("a", 1)]
    with pytest.raises(ValueError, match="k must be positive"):
        stratified_sample(df, "grp", "doc_id", k=0)


# ---------------------------------------------------------------------------
# PII redaction (round-5 addition)
# ---------------------------------------------------------------------------

_PII_CASES = [
    "mail me at Jane.Doe+spam@sub.example.co.uk today",
    "server at 192.168.0.1 and 10.0.0.255, port 8080",
    "ssn 123-45-6789 but order 1234-56-789 stays",
    "call (555) 123-4567 or 555-123-4567 or +1 555.123.4567",
    "plain 5551234567 run must NOT be a phone",
    "v1.2.3.4 looks dotted but has a word boundary issue",
    "mixed: a@b.io then 8.8.8.8 then 111-22-3333 then 222-333-4444",
    "no pii here at all",
    "",
]


def test_redact_pii_known_strings(spark):
    from pprl_spark.spark.pii import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_PII_CASES)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[0]["text"] == "mail me at <email> today"
    assert rows[0]["pii_email"] == 1
    assert rows[1]["text"] == "server at <ipv4> and <ipv4>, port 8080"
    assert rows[1]["pii_ipv4"] == 2
    assert rows[2]["text"] == "ssn <ssn> but order 1234-56-789 stays"
    assert rows[2]["pii_ssn"] == 1
    assert rows[3]["pii_phone"] == 3
    assert rows[3]["text"] == "call <phone> or <phone> or <phone>"
    assert rows[4]["text"] == _PII_CASES[4]  # bare digit run untouched
    m = rows[6]
    assert (m["pii_email"], m["pii_ipv4"], m["pii_ssn"], m["pii_phone"]) == (
        1, 1, 1, 1,
    )
    assert rows[7]["text"] == _PII_CASES[7]
    # sequential semantics: counts sum to tokens present in the output
    for r in rows.values():
        toks = sum(
            r["text"].count(f"<{k}>") for k in ("email", "ipv4", "ssn", "phone")
        )
        assert toks == (
            r["pii_email"] + r["pii_ipv4"] + r["pii_ssn"] + r["pii_phone"]
        )


def test_redact_pii_duckdb_parity(spark):
    """The module contract says the pattern strings behave identically
    under Java regex and RE2 — pin it against DuckDB on tricky text."""
    import duckdb

    from pprl_spark.spark.pii import PII_PATTERNS, redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_PII_CASES)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["text"], r["pii_email"], r["pii_ipv4"], r["pii_ssn"], r["pii_phone"]
        )
        for r in redact_pii(df).collect()
    }
    con = duckdb.connect()
    expr = "text"
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            f"length(regexp_extract_all({expr}, '{pat}')) AS c_{kind}"
        )
        expr = f"regexp_replace({expr}, '{pat}', '<{kind}>', 'g')"
    sql = (
        f"SELECT doc_id, {expr} AS red, {', '.join(counts)} "
        "FROM docs ORDER BY doc_id"
    )
    con.register(
        "docs",
        __import__("pandas").DataFrame(
            {"doc_id": range(len(_PII_CASES)), "text": _PII_CASES}
        ),
    )
    for doc_id, red, ce, ci, cs, cp in con.execute(sql).fetchall():
        assert got[doc_id] == (red, ce, ci, cs, cp), doc_id


def test_redact_pii_kinds_and_validation(spark):
    from pprl_spark.spark.pii import redact_pii

    df = spark.createDataFrame(
        [(0, "a@b.io at 1.2.3.4")], "doc_id long, text string"
    )
    r = redact_pii(df, kinds=["ipv4"], out_col="red").collect()[0]
    assert r["red"] == "a@b.io at <ipv4>"
    assert r["text"] == "a@b.io at 1.2.3.4"  # out_col leaves source intact
    assert "pii_email" not in r.asDict()
    with pytest.raises(ValueError, match="unknown PII kind"):
        redact_pii(df, kinds=["mac"])


# ---------------------------------------------------------------------------
# boilerplate line removal (round-5 addition)
# ---------------------------------------------------------------------------


def _boiler_corpus():
    """Domain a: cookie banner in 3/4 docs; domain b: same line once."""
    banner = "We use cookies | Accept"
    nav = "Home > Products > About"
    docs = [
        (0, "a.com", f"{banner}\n{nav}\nunique zero\n\npara two"),
        (1, "a.com", f"{banner}\nunique one"),
        (2, "a.com", f"{nav}\n{banner}\nunique two"),
        (3, "a.com", "only unique three"),
        (4, "b.com", f"{banner}\nb unique"),
        (5, "b.com", "b other"),
    ]
    return docs, banner, nav


def _naive_boiler(docs, min_docs, min_frac, per_domain=True):
    from collections import Counter, defaultdict

    bydom = defaultdict(list)
    for _, dom, text in docs:
        bydom[dom if per_domain else ""].append(text)
    banned = {}
    for dom, texts in bydom.items():
        c = Counter()
        for t in texts:
            c.update({l for l in t.split("\n") if l.strip()})
        banned[dom] = {
            l
            for l, n in c.items()
            if n >= min_docs and n / len(texts) >= min_frac
        }
    out = {}
    for i, dom, text in docs:
        b = banned[dom if per_domain else ""]
        keep = [l for l in text.split("\n") if not l.strip() or l not in b]
        out[i] = ("\n".join(keep), len(text.split("\n")) - len(keep))
    return out


def test_remove_boilerplate_per_domain(spark):
    from pprl_spark.spark.webtext import remove_boilerplate_lines

    docs, banner, nav = _boiler_corpus()
    df = spark.createDataFrame(docs, "doc_id long, domain string, text string")
    exp = _naive_boiler(docs, min_docs=2, min_frac=0.5)
    for parts in (1, 4):
        res = remove_boilerplate_lines(
            df.repartition(parts), domain_col="domain",
            min_docs=2, min_doc_fraction=0.5,
        )
        got = {
            r["doc_id"]: (r["text"], r["n_lines_removed"])
            for r in res.collect()
        }
        assert got == exp, parts
    # banner hit 3/4 a.com docs -> removed there; 1/2 b.com docs -> kept
    assert banner not in got[0][0] and banner in got[4][0]
    # nav hit 2/4 -> removed; empty paragraph-delimiter line preserved
    assert nav not in got[0][0] and "\n\n" in got[0][0]


def test_remove_boilerplate_global_and_cap(spark):
    from pprl_spark.spark.webtext import remove_boilerplate_lines

    docs, banner, nav = _boiler_corpus()
    df = spark.createDataFrame(docs, "doc_id long, domain string, text string")
    exp = _naive_boiler(docs, min_docs=2, min_frac=0.5, per_domain=False)
    res = remove_boilerplate_lines(df, min_docs=2, min_doc_fraction=0.5)
    got = {
        r["doc_id"]: (r["text"], r["n_lines_removed"]) for r in res.collect()
    }
    assert got == exp
    # globally the banner spreads 4/6 (>=0.5) and nav only 2/6 (<0.5)
    assert banner not in got[4][0] and nav in got[0][0]
    # cap=1 keeps only the widest-spread line banned (banner, 4 docs)
    capped = remove_boilerplate_lines(
        df, min_docs=2, min_doc_fraction=0.3, max_banned_per_domain=1
    )
    crow = {r["doc_id"]: r["text"] for r in capped.collect()}
    assert banner not in crow[0] and nav in crow[0]
    with pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_lines(df, min_docs=1)


def test_boilerplate_line_stats(spark):
    from pprl_spark.spark.webtext import boilerplate_line_stats

    docs, banner, _ = _boiler_corpus()
    df = spark.createDataFrame(docs, "doc_id long, domain string, text string")
    stats = boilerplate_line_stats(df, domain_col="domain").collect()
    import pyspark.sql.functions as F  # noqa: F401  (hash parity below)

    by = {(r["domain"], r["line_hash"]): r for r in stats}
    h = df.sparkSession.createDataFrame([(banner,)], "l string").select(
        F.xxhash64("l")
    ).collect()[0][0]
    a, b = by[("a.com", h)], by[("b.com", h)]
    assert (a["n_docs"], round(a["doc_fraction"], 6)) == (3, 0.75)
    assert (b["n_docs"], round(b["doc_fraction"], 6)) == (1, 0.5)


def test_dedup_job_boiler_and_redact_stages(spark, tmp_path):
    """The staged curation job with the round-5 optional stages: a
    boilerplate-removal stage rewrites text (and recomputes n_tokens)
    before dedup, and a final redact stage ships PII-scrubbed canonical
    docs."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "dedup_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "dedup_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    from pprl_spark.spark.pipeline import Pipeline

    banner = "COOKIE BANNER ACCEPT ALL"
    src = tmp_path / "docs.parquet"
    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(30)
    import pyspark.sql.functions as F

    base.withColumn(
        "text",
        F.concat(
            F.col("text"),
            # the PII line carries doc_id so it is unique per doc — the
            # boiler stage must NOT eat it before redact sees it
            F.lit(f"\n{banner}\nwrite a@b.io or dial 555-123-4567 ref "),
            F.col("doc_id").cast("string"),
        ),
    ).write.parquet(str(src))

    stages = job.build_stages(str(src), q=5, threshold=0.8, min_quality=0.0,
                              boilerplate_min_doc_fraction=0.5, redact=True)
    assert [s.name for s in stages] == [
        "stats", "boiler", "pairs", "components", "canonical",
        "shards", "redact",
    ]
    results = Pipeline(spark, tmp_path / "wd", stages).run()
    boiled = {r["doc_id"]: r for r in results["boiler"].collect()}
    assert all(banner not in r["text"] for r in boiled.values())
    assert all(r["n_lines_removed"] >= 1 for r in boiled.values())
    # n_tokens recomputed on the cleaned text
    some = next(iter(boiled.values()))
    assert some["n_tokens"] == len(some["text"].split())

    red = {r["doc_id"]: r for r in results["redact"].collect()}
    canonical_ids = {
        r["doc_id"] for r in results["canonical"].collect() if r["is_canonical"]
    }
    assert set(red) == canonical_ids
    for r in red.values():
        assert "<email>" in r["text"] and "<phone>" in r["text"]
        assert r["pii_email"] >= 1 and r["pii_phone"] >= 1
        assert "a@b.io" not in r["text"]


# ---------------------------------------------------------------------------
# link extraction / host graph / PageRank (round-5 addition)
# ---------------------------------------------------------------------------


def test_extract_links_and_resolve(spark):
    from pprl_spark.spark.webtext import extract_links_col, resolve_url

    html = (
        b'<html><body><A HREF="https://abs.example/x">abs</A>'
        b"<a class='z' href='//cdn.example/y'>pr</a>"
        b'<a href="/root/z">root</a>'
        b'<a href="sib.html">rel</a>'
        b"<a name=anchor>no href</a></body></html>"
    )
    df = spark.createDataFrame(
        [("https://site.example/dir/page.html", html)], "url string, html binary"
    )
    row = df.select(
        extract_links_col(F.col("html")).alias("links")
    ).collect()[0]
    assert row["links"] == [
        "https://abs.example/x", "//cdn.example/y", "/root/z", "sib.html",
    ]
    resolved = df.select(
        F.transform(
            extract_links_col(F.col("html")),
            lambda h: resolve_url(F.col("url"), h),
        ).alias("r")
    ).collect()[0]["r"]
    assert resolved == [
        "https://abs.example/x",
        "https://cdn.example/y",
        "https://site.example/root/z",
        "https://site.example/dir/sib.html",
    ]


def test_host_graph_on_pages_fixture(spark):
    from pprl_spark.fixtures import make_pages, page_row
    from pprl_spark.spark.webtext import host_graph

    pages = make_pages(spark, 300, partitions=4)
    g = host_graph(pages).collect()
    total = sum(r["n_links"] for r in g)
    # every page has exactly 3 outlinks; self-links (dst == own host)
    # are dropped — count the expected survivors from the fixture rule
    exp = 0
    for i in range(300):
        src = i % 997
        for k in range(3):
            if (i * 7 + 13 * k + 1) % 997 != src:
                exp += 1
    assert total == exp
    edges = {(r["src_host"], r["dst_host"]) for r in g}
    assert ("site-000.example", "site-001.example") in edges  # i=0, k=0


def _naive_pagerank(edges, iterations=10, d=0.85):
    nodes = sorted({u for u, v, w in edges} | {v for u, v, w in edges})
    deg = {}
    for u, v, w in edges:
        deg[u] = deg.get(u, 0.0) + w
    n = len(nodes)
    r = {x: 1.0 / n for x in nodes}
    for _ in range(iterations):
        c = {x: 0.0 for x in nodes}
        for u, v, w in edges:
            c[v] += r[u] * w / deg[u]
        dm = sum(r[x] for x in nodes if x not in deg)
        r = {x: (1 - d) / n + d * (c[x] + dm / n) for x in nodes}
    return r


def test_pagerank_matches_reference_with_dangling_and_weights(spark):
    from pprl_spark.spark.graph import pagerank

    edges = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 1.0), ("a", "d", 1.0),  # d is dangling (no out-edges)
    ]
    exp = _naive_pagerank(edges)
    df = spark.createDataFrame(edges, "src_host string, dst_host string, n_links double")
    for parts in (1, 4):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df.repartition(parts), weight="n_links").collect()
        }
        assert set(got) == set(exp)
        for k in exp:
            assert abs(got[k] - exp[k]) < 1e-12, (k, got[k], exp[k])
        assert abs(sum(got.values()) - 1.0) < 1e-9

    # unweighted: multiplicity via repeated edges instead
    flat = [(u, v) for u, v, w in edges for _ in range(int(w))]
    exp2 = _naive_pagerank([(u, v, 1.0) for u, v in flat])
    df2 = spark.createDataFrame(flat, "src_host string, dst_host string")
    got2 = {r["node"]: r["rank"] for r in pagerank(df2).collect()}
    for k in exp2:
        assert abs(got2[k] - exp2[k]) < 1e-12

    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)


def test_pagerank_host_graph_end_to_end(spark):
    """host_graph → pagerank over the pages fixture: ranks sum to 1 and
    the hub structure (site-001 receives from many) outranks leaves."""
    from pprl_spark.fixtures import make_pages
    from pprl_spark.spark.graph import pagerank
    from pprl_spark.spark.webtext import host_graph

    g = host_graph(make_pages(spark, 300, partitions=4))
    ranks = pagerank(g, weight="n_links", iterations=5).collect()
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-9
    assert all(r["rank"] > 0 for r in ranks)


# ---------------------------------------------------------------------------
# WARC source (round-5 addition)
# ---------------------------------------------------------------------------


def test_warc_roundtrip_plain_and_gz(spark, tmp_path):
    """read_warc over fixture archives reproduces (url, warc_ts, html)
    byte-for-byte, skipping warcinfo/request records; .warc and the
    per-record-gzip-member .warc.gz layout parse identically."""
    from pprl_spark.fixtures import make_pages_local, make_warc_bytes
    from pprl_spark.io.warc import parse_warc_bytes, read_warc

    rows = make_pages_local(25)
    (tmp_path / "a.warc").write_bytes(make_warc_bytes(rows[:13]))
    (tmp_path / "b.warc.gz").write_bytes(make_warc_bytes(rows[13:], gz=True))

    got = {
        r["url"]: r
        for r in read_warc(spark, str(tmp_path)).collect()
    }
    assert len(got) == 25
    for exp in rows:
        r = got[exp["url"]]
        assert bytes(r["html"]) == exp["html"], exp["url"]
        assert r["warc_ts"] == exp["warc_ts"]

    # local parser agreement between the two layouts
    plain = parse_warc_bytes(make_warc_bytes(rows), gz=False)
    gzed = parse_warc_bytes(make_warc_bytes(rows, gz=True), gz=True)
    assert plain == gzed
    assert len(plain) == 25  # request/warcinfo records skipped


def test_warc_to_pages_pipeline(spark, tmp_path):
    """The ingestion story end-to-end: WARC → (url, warc_ts, html) →
    extract_text_col reproduces the fixture's text column."""
    from pprl_spark.fixtures import make_pages_local, make_warc_bytes
    from pprl_spark.spark.webtext import extract_text_col
    from pprl_spark.io.warc import read_warc

    rows = make_pages_local(10)
    (tmp_path / "c.warc").write_bytes(make_warc_bytes(rows))
    pages = read_warc(spark, str(tmp_path / "c.warc")).withColumn(
        "text", extract_text_col(F.col("html"))
    )
    texts = {r["url"]: r["text"] for r in pages.collect()}
    assert texts == {r["url"]: r["text"] for r in rows}


def test_warc_parser_edge_cases():
    from pprl_spark.io.warc import parse_warc_bytes

    # stray padding between records is tolerated; truncated tail ignored
    from pprl_spark.fixtures import make_pages_local, make_warc_bytes

    raw = make_warc_bytes(make_pages_local(2))
    assert len(parse_warc_bytes(b"JUNK" + raw + b"garbage", gz=False)) == 2
    # payload without an HTTP envelope passes through as-is
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://x.example/\r\n"
           b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
           b"Content-Length: 5\r\n\r\nhello\r\n\r\n")
    out = parse_warc_bytes(rec, gz=False)
    assert out[0][2] == b"hello"


def test_stream_job_redact_stage(spark, tmp_path):
    """--redact in the composed streaming job: PII is scrubbed after
    dedup and the per-kind counts ride the sink schema; redaction runs
    as a plain Catalyst projection on the stream (no stateful op)."""
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
    rows = [
        ("u1", "reach me at jane@corp.example for details", "en", t0),
        ("u2", "server logs show 10.1.2.3 repeatedly", "en",
         t0 + timedelta(minutes=1)),
        ("u3", "nothing sensitive in this one at all", "en",
         t0 + timedelta(minutes=2)),
    ]
    spark.createDataFrame(rows, job.PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q = job.build_query(spark, src, out, ckpt, once=True, redact=True)
    q.awaitTermination(180)
    got = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {"u1", "u2", "u3"}
    assert got["u1"]["pii_email"] == 1 and got["u2"]["pii_ipv4"] == 1
    assert got["u3"]["pii_email"] == got["u3"]["pii_ipv4"] == 0


# ---------------------------------------------------------------------------
# mixture_sample (round-5 addition)
# ---------------------------------------------------------------------------


def test_mixture_rates_waterfilling():
    from pprl_spark.spark.sampling import mixture_rates

    # alpha=1: proportional — every group gets the target rate
    r = mixture_rates([("a", 100), ("b", 900)], alpha=1.0, target_fraction=0.4)
    assert r == pytest.approx({"a": 0.4, "b": 0.4})
    # alpha=0: equal mass per group; tiny group caps at 1.0 and its
    # shortfall re-spreads onto the big one (exact waterfilling)
    r = mixture_rates([("a", 10), ("b", 990)], alpha=0.0, target_fraction=0.5)
    assert r["a"] == 1.0
    assert r["b"] == pytest.approx((0.5 * 1000 - 10) / 990)
    # expected kept mass always equals the budget
    for alpha in (0.0, 0.3, 0.7, 1.0):
        counts = [("x", 5), ("y", 50), ("z", 500)]
        r = mixture_rates(counts, alpha=alpha, target_fraction=0.6)
        kept = sum(r[g] * n for g, n in counts)
        assert kept == pytest.approx(0.6 * 555)
        assert all(0.0 <= v <= 1.0 for v in r.values())
    # target 1.0 keeps everything
    assert mixture_rates([("a", 3)], 0.5, 1.0) == {"a": 1.0}
    with pytest.raises(ValueError, match="target_fraction"):
        mixture_rates([("a", 1)], 0.5, 0.0)
    with pytest.raises(ValueError, match="alpha"):
        mixture_rates([("a", 1)], -0.1, 0.5)


def test_mixture_sample_deterministic_and_matches_rates(spark):
    """The kept set is exactly {rows whose md5 lane < rate·M} per group
    — reproduced row-for-row by a local replica, partition-invariant,
    and identical through the literal-map and broadcast-join paths."""
    import hashlib

    from pprl_spark.spark.sampling import mixture_rates, mixture_sample

    rows = [(i, "en" if i % 10 < 8 else ("de" if i % 2 else "fr"))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    counts = {}
    for _, g in rows:
        counts[g] = counts.get(g, 0) + 1
    rates = mixture_rates(sorted(counts.items()), alpha=0.3,
                          target_fraction=0.4)

    def lane(key):
        h = hashlib.md5(str(key).encode()).hexdigest()[:8]
        return (int(h, 16) % 2_147_483_647) % 1_000_000

    exp = {
        i for i, g in rows if lane(i) < int(rates[g] * 1_000_000)
    }
    for parts in (1, 7):
        got = {
            r["doc_id"]
            for r in mixture_sample(
                df.repartition(parts), "lang", "doc_id",
                alpha=0.3, target_fraction=0.4,
            ).collect()
        }
        assert got == exp, parts
    # rare groups kept at a higher rate than the dominant one
    kept_by = {}
    for i in exp:
        g = rows[i][1]
        kept_by[g] = kept_by.get(g, 0) + 1
    assert kept_by["de"] / counts["de"] > kept_by["en"] / counts["en"]


def test_mixture_sample_broadcast_path_agrees(spark):
    """Force the high-cardinality broadcast-join path (>1000 groups) and
    check it against the same local replica."""
    import hashlib

    from pprl_spark.spark.sampling import mixture_rates, mixture_sample

    rows = [(i, f"g{i % 1500:04d}") for i in range(6000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    counts = {}
    for _, g in rows:
        counts[g] = counts.get(g, 0) + 1
    rates = mixture_rates(sorted(counts.items()), alpha=0.5,
                          target_fraction=0.3)

    def lane(key):
        h = hashlib.md5(str(key).encode()).hexdigest()[:8]
        return (int(h, 16) % 2_147_483_647) % 1_000_000

    exp = {i for i, g in rows if lane(i) < int(rates[g] * 1_000_000)}
    got = {
        r["doc_id"]
        for r in mixture_sample(
            df, "grp", "doc_id", alpha=0.5, target_fraction=0.3
        ).collect()
    }
    assert got == exp
    cols = mixture_sample(df, "grp", "doc_id").columns
    assert cols == ["doc_id", "grp"]  # helper columns dropped


# ---------------------------------------------------------------------------
# winnowing substring dedup (round-5 addition)
# ---------------------------------------------------------------------------


def _naive_winnow(text, k, w):
    M, B = (1 << 56) - 5, 131
    b = text.encode("utf-8", "surrogatepass")
    hs = []
    for i in range(len(b) - k + 1):
        h = 0
        for c in b[i:i + k]:
            h = (h * B + c) % M
        hs.append(h)
    if not hs:
        return set()
    if len(hs) <= w:
        m = min(hs)
        pos = max(i for i, x in enumerate(hs) if x == m)
        return {(hs[pos], pos)}
    sel = set()
    for s in range(len(hs) - w + 1):
        window = hs[s:s + w]
        m = min(window)
        sel.add(s + max(i for i, x in enumerate(window) if x == m))
    ordered = sorted(sel)
    # equal-hash run compression, adjacent-pair rule (mirrors the
    # vectorized implementation exactly)
    kept = [ordered[0]]
    for prev, p in zip(ordered, ordered[1:]):
        if not (hs[p] == hs[prev] and p - prev < w):
            kept.append(p)
    return {(hs[p], p) for p in kept}


def test_winnow_numpy_matches_naive_and_guarantee():
    import random

    from pprl_spark.spark.substring import _winnow_numpy

    rng = random.Random(5)
    alpha = "abcdefgh "
    for trial in range(25):
        k = rng.choice([4, 7, 25])
        w = rng.choice([1, 3, 8, 25])
        t = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 300)))
        assert set(_winnow_numpy(t, k, w)) == _naive_winnow(t, k, w), (k, w, t)
    # the winnowing guarantee: a shared run of length >= w+k-1 always
    # yields at least one common selected hash
    for trial in range(20):
        k, w = 5, 6
        shared = "".join(rng.choice(alpha) for _ in range(k + w - 1))
        a = "".join(rng.choice(alpha) for _ in range(80)) + shared \
            + "".join(rng.choice(alpha) for _ in range(80))
        b = "".join(rng.choice(alpha) for _ in range(40)) + shared \
            + "".join(rng.choice(alpha) for _ in range(120))
        ha = {h for h, _ in _winnow_numpy(a, k, w)}
        hb = {h for h, _ in _winnow_numpy(b, k, w)}
        assert ha & hb, trial
    # density ~ 2/(w+1)
    t = "".join(rng.choice(alpha) for _ in range(5000))
    fp = _winnow_numpy(t, 10, 20)
    assert 2 * 5000 / 21 * 0.5 < len(fp) < 2 * 5000 / 21 * 2.0
    # degenerate and short inputs
    assert _winnow_numpy("", 5, 5) == []
    assert _winnow_numpy("abc", 5, 5) == []
    assert len(_winnow_numpy("a" * 100, 5, 5)) == 1  # all hashes equal


def test_duplicate_spans_and_stats(spark):
    from pprl_spark.spark.substring import duplicate_span_stats, duplicate_spans

    passage = ("all work and no play makes jack a dull boy " * 3).strip()
    docs = [
        (1, "intro paragraph here. " + passage + " and then some more prose"),
        (2, "different document entirely but quoting: " + passage + " end"),
        (3, "totally unrelated text with nothing shared at all among these"),
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = duplicate_spans(df, k=25, w=25).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], set()).add(r["h"])
        assert r["n_docs"] == 2
    assert set(by_doc) == {1, 2}
    assert by_doc[1] & by_doc[2]  # the planted passage is caught
    # stats: sharing docs have dup_fraction > 0, the loner exactly 0
    st = {r["doc_id"]: r for r in duplicate_span_stats(df, k=25, w=25).collect()}
    assert st[1]["dup_fraction"] > 0 and st[2]["dup_fraction"] > 0
    assert st[3]["dup_fraction"] == 0.0 and st[3]["n_fingerprints"] > 0
    assert st[4]["n_fingerprints"] == 0 and st[4]["dup_fraction"] == 0.0
    # partition invariance
    again = duplicate_spans(df.repartition(5), k=25, w=25).collect()
    assert {(r["h"], r["doc_id"], r["pos"]) for r in again} == {
        (r["h"], r["doc_id"], r["pos"]) for r in spans
    }


def test_duplicate_spans_hot_hash_cap(spark):
    from pprl_spark.spark.substring import duplicate_spans

    # 30 docs all sharing one templated passage; cap below 30 drops it
    passage = "x" * 80
    docs = [(i, f"doc {i:03d} prefix " + passage) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assert duplicate_spans(df, k=25, w=25, max_docs_per_hash=10).where(
        "n_docs >= 25"
    ).count() == 0
    uncapped = duplicate_spans(df, k=25, w=25).where("n_docs = 30")
    assert uncapped.count() > 0
    with pytest.raises(ValueError, match="k >= 2"):
        from pprl_spark.spark.substring import winnow_fingerprints
        winnow_fingerprints("text", k=1)


def test_streaming_remove_boilerplate_matches_batch(spark, tmp_path):
    """Frozen-blocklist streaming boilerplate removal makes the same
    per-row decision as the batch operator over the same corpus."""
    from pyspark.sql import functions as SF

    from pprl_spark.spark.webtext import (
        boilerplate_line_stats,
        remove_boilerplate_lines,
        streaming_remove_boilerplate,
    )

    banner = "ACCEPT OUR COOKIES"
    rows = [
        (i, "a.com" if i < 8 else "b.com",
         f"{banner}\nunique body {i}" if i % 2 == 0 else f"only body {i}")
        for i in range(12)
    ]
    schema = "doc_id long, domain string, text string"
    df = spark.createDataFrame(rows, schema)
    batch = {
        r["doc_id"]: (r["text"], r["n_lines_removed"])
        for r in remove_boilerplate_lines(
            df, domain_col="domain", min_docs=2, min_doc_fraction=0.3
        ).collect()
    }
    # the frozen blocklist = the same thresholds applied to the stats
    blocklist = boilerplate_line_stats(df, domain_col="domain").where(
        (SF.col("n_docs") >= 2) & (SF.col("doc_fraction") >= 0.3)
    )
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_remove_boilerplate(stream, blocklist, domain_col="domain")
    q = (
        out.writeStream.format("memory").queryName("boiler_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["text"], r["n_lines_removed"])
        for r in spark.sql("SELECT * FROM boiler_stream").collect()
    }
    assert got == batch
    # non-streaming input is rejected
    with pytest.raises(ValueError, match="streaming"):
        streaming_remove_boilerplate(df, blocklist)


def test_stream_job_boilerplate_stage(spark, tmp_path):
    """--boilerplate-src in the composed streaming job drops the
    blocklisted line before dedup/encode."""
    import importlib.util
    import pathlib
    from datetime import datetime, timedelta

    from pyspark.sql import functions as SF

    from pprl_spark.spark.webtext import boilerplate_line_stats

    spec = importlib.util.spec_from_file_location(
        "stream_job",
        pathlib.Path(__file__).resolve().parent.parent / "jobs" / "stream_job.py",
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    src, out, ckpt, bl = (str(tmp_path / d) for d in ("s", "o", "c", "bl"))
    t0 = datetime(2024, 1, 1)
    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    rows = [
        (f"u{i}", f"{banner}\ndistinct useful content number {i}", "en",
         t0 + timedelta(minutes=i))
        for i in range(4)
    ]
    pages = spark.createDataFrame(rows, job.PAGES_SCHEMA)
    pages.coalesce(1).write.mode("append").parquet(src)
    # batch-side blocklist over the same corpus (global mode)
    boilerplate_line_stats(
        pages.withColumn("doc_id", SF.monotonically_increasing_id())
    ).where("n_docs >= 2").write.parquet(bl)
    q = job.build_query(spark, src, out, ckpt, once=True,
                        boilerplate_src=bl)
    q.awaitTermination(180)
    # the banner line is gone from every encoded doc: dedup key was the
    # CLEANED text, so all four distinct bodies survive
    got = spark.read.parquet(out).collect()
    assert len(got) == 4


# ---------------------------------------------------------------------------
# r5 late: per-row (zero-shuffle) n-gram stats parity with the explode+agg
# form, including the edge rows the sf corpus never exercises
# ---------------------------------------------------------------------------


def test_ngram_char_stats_col_matches_shuffle_form(spark):
    """Per-row (zero-shuffle) form against the explode+agg form on the
    edge rows: empty, NULL, single-word, whitespace-only,
    line-and-paragraph and single-word-loop documents."""
    rows = [
        (0, "the cat sat on the mat the cat sat on the mat again and again"),
        (1, "one two three four five six seven eight nine ten eleven twelve"),
        (2, "dup dup dup dup dup dup dup dup dup dup dup dup"),
        (3, ""),
        (4, None),
        (5, "single"),
        (6, "a b"),
        (7, "line one\nline one\nline two\n\npara\n\npara"),
        (8, "  \n \n  "),  # whitespace only
        (9, "x " * 40),
    ]
    _assert_ngram_udf_matches_batch(spark, rows)


def test_filter_documents_ngram_rules_regression(spark):
    """Pinned decisions and n-gram signals of the full Gopher rule set on
    edge rows (NULL text passes: every NULL signal comparison is unknown,
    so no rule fires)."""
    from pprl_spark.spark.quality import FilterRules, filter_documents

    rows = [(i, t) for i, t in enumerate([
        "the quick brown fox jumps over the lazy dog near the river bank",
        "spam spam spam spam spam spam spam spam spam spam spam spam spam",
        "short",
        None,
        "l1\nl1\nl1\nl2\n\npp\n\npp quality words here and there everywhere",
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rules = FilterRules(
        min_tokens=3,
        max_dup_word_fraction=0.5,
        max_top_bigram_fraction=0.5,
        max_top_ngram_fraction=((2, 0.20), (3, 0.18), (4, 0.16)),
        max_dup_ngram_fraction=((5, 0.15), (8, 0.12), (10, 0.10)),
        max_dup_line_fraction=0.30,
        max_dup_paragraph_fraction=0.30,
        max_dup_line_char_fraction=0.20,
        max_dup_paragraph_char_fraction=0.20,
    )
    cols = ["keep", "reject_reason", "top_2gram_char_frac",
            "top_3gram_char_frac", "top_4gram_char_frac",
            "dup_5gram_char_frac", "dup_8gram_char_frac",
            "dup_10gram_char_frac", "dup_line_char_frac",
            "dup_para_char_frac", "top_bigram_fraction"]
    got = {r["doc_id"]: tuple(r[c] for c in cols)
           for r in filter_documents(df, rules).collect()}
    assert got == {
        0: (False, "repetition_top3gram", 0.1746031746031746,
            0.23809523809523808, 0.3333333333333333, 0.0, 0.0, 0.0, 0.0,
            0.0, 0.08333333333333333),
        1: (False, "repetition_words", 1.6875, 2.40625, 2.96875, 1.0, 1.0,
            1.0, 0.0, 0.0, 1.0),
        2: (False, "too_short", 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
        3: (True, "ok", 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
        4: (False, "repetition_lines", 0.1694915254237288,
            0.3389830508474576, 0.423728813559322, 0.0, 0.0, 0.0,
            0.1016949152542373, 0.0, 0.18181818181818182),
    }


def test_bind_once_equivalence_against_unbound_forms(spark):
    """Every bind_once rewrite must be value-identical to the plain
    (free-subtree) construction of the same expression — the unbound
    forms below are the pre-r5 formulas, kept here as the semantic
    oracle for the optimized library versions."""
    from pprl_spark.spark.decontaminate import word_ngram_hashes, word_ngrams
    from pprl_spark.spark.quality import (
        dup_line_fraction,
        dup_paragraph_fraction,
        dup_word_fraction,
    )
    from pprl_spark.spark.stats import padded_qgram_tokens, qgram_windows
    from pprl_spark.spark.textstats import rolling_fingerprints, stopword_ratio

    texts = [
        None, "", " ", "a", "ab", "a b", "a  b\t c",
        "the the the the", "one two three four five six seven",
        "l1\nl1\nl2", "p1\n\np1\n\np2", "\n\n\n", "  \n \n ",
        "word\xa0nbsp emsp",          # unicode whitespace (NOT \s in Java)
        "日本語 テキスト 処理 日本語",        # CJK multibyte
        "emoji 🎉 test 🎉 emoji 🎉 test",
        "x " * 50, ("repeat me " * 30).strip(),
        "and the und der et le y el och att",  # stopwords, mixed langs
        "trailing space ", " leading space",
        "tab\tsep\tvals", "a\rb", "punct!!! ??? ... ;;;",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    c = F.col("text")

    def unbound_dup(units):
        n = F.size(units)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            (F.lit(1.0) - F.size(F.array_distinct(units)) / n).cast("double")
        )

    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    lines = F.filter(F.split(c, r"\n"), lambda s: F.trim(s) != "")
    paras = F.filter(F.split(c, r"\n{2,}"), lambda s: F.trim(s) != "")

    lwords = F.filter(F.split(F.lower(c), r"\s+"), lambda w: w != "")
    from pprl_spark.spark.textstats import ALL_STOPWORDS
    sw = F.array(*[F.lit(w) for w in ALL_STOPWORDS])
    unbound_stop = (
        F.size(F.filter(lwords, lambda w: F.array_contains(sw, w)))
        / F.greatest(F.size(lwords), F.lit(1))
    ).cast("double")

    nw = F.size(lwords)
    n = 3
    unbound_grams = F.when(
        nw >= n,
        F.transform(
            F.sequence(F.lit(1), nw - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(lwords, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    window = 4
    starts = F.sequence(F.lit(1), F.greatest(F.size(words) - (window - 1), F.lit(1)))
    unbound_roll = F.transform(
        starts, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i, window)))
    )

    q, padding = 2, "_"
    pad = F.lit(padding * (q - 1))
    padded = F.concat(pad, c, pad)
    unbound_padded = F.when(
        c.isNull(), F.lit(None).cast("array<string>")
    ).when(
        F.length(padded) >= q,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(padded) - (q - 1)),
                lambda i: F.substring(padded, i, q),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))

    pairs = {
        "dup_word": (dup_word_fraction(c), unbound_dup(words)),
        "dup_line": (dup_line_fraction(c), unbound_dup(lines)),
        "dup_para": (dup_paragraph_fraction(c), unbound_dup(paras)),
        "stopword": (stopword_ratio(c), unbound_stop),
        "ngrams": (word_ngrams(c, n), unbound_grams),
        "ngram_hashes": (
            word_ngram_hashes(c, n),
            F.transform(unbound_grams, lambda g: F.xxhash64(g)),
        ),
        "rolling": (rolling_fingerprints(c, window), unbound_roll),
        "padded_tokens": (padded_qgram_tokens(c, q, padding), unbound_padded),
        "raw_windows": (
            qgram_windows(c, q, padding),
            F.when(c.isNull(), F.lit(None).cast("array<string>")).when(
                F.length(padded) >= q,
                F.transform(
                    F.sequence(F.lit(1), F.length(padded) - (q - 1)),
                    lambda i: F.substring(padded, i, q),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
    }
    sel = [F.col("id")]
    for name, (bound, unbound) in pairs.items():
        sel.append(bound.alias(f"b_{name}"))
        sel.append(unbound.alias(f"u_{name}"))
    for r in df.select(*sel).collect():
        d = r.asDict()
        for name in pairs:
            assert d[f"b_{name}"] == d[f"u_{name}"], (
                d["id"], name, d[f"b_{name}"], d[f"u_{name}"]
            )


@pytest.mark.parametrize("max_hamming", [None, 6, 3])
def test_simhash_udf_fingerprints_bit_identical(spark, max_hamming):
    """The per-row Arrow fingerprints must equal the straight-line md5
    majority-vote replay bit-for-bit (hi, lo, every chunk key), including
    the NULL / empty / shorter-than-q / CJK / duplicate edge rows, and
    simhash_pairs must return exactly the replayed pairs, each once: the
    pairs sharing ≥1 chunk, within ``max_hamming`` when given (chunk-pair
    blocking for 6 and 3).  A planted hot bucket of 400 identical texts
    (79,800 pairs, more than one pair block of the walk) must give each
    of its pairs once, with Hamming 0."""
    from itertools import combinations

    from test_round2 import _simhash_replay_ints

    from pprl_spark.spark import lsh
    from pprl_spark.spark.dedup import simhash_fingerprints_udf, simhash_pairs

    rows = [(0, "the cat sat on the mat and then sat some more right here"),
            (1, "the cat sat on the mat and then sat some more right there"),
            (2, "completely different text about spark catalyst plans"),
            (3, ""), (4, None), (5, "ab"), (6, "abc"),
            (7, "日本語テキストの処理とハッシュ"),
            (8, "the cat sat on the mat and then sat some more right here")]
    hot = [(100 + k, "one hot bucket: the same boilerplate footer again") for k in range(400)]
    df = spark.createDataFrame(rows + hot, "doc_id long, text string")
    got = {r["__id"]: (r["hi"], r["lo"], list(r["keys"])) for r in
           simhash_fingerprints_udf(df, "doc_id", "text", q=3).collect()}
    want = {i: _simhash_replay_ints(t) for i, t in rows + hot}
    assert got == want

    def hamming(a, b):
        return bin(want[a][0] ^ want[b][0]).count("1") + bin(
            want[a][1] ^ want[b][1]).count("1")

    expect = {(a, b, hamming(a, b)) for a, b in combinations(sorted(want), 2)
              if any(x == y for x, y in zip(want[a][2], want[b][2]))
              and (max_hamming is None or hamming(a, b) <= max_hamming)}
    out = [tuple(r) for r in
           simhash_pairs(df, "doc_id", "text", q=3, max_hamming=max_hamming).collect()]
    assert len(out) == len(set(out)) and set(out) == expect
    assert (0, 8, 0) in expect
    hot_pairs = [p for p in out if p[0] >= 100]
    assert len(hot_pairs) == 400 * 399 // 2 > lsh._PAIR_BLOCK
    assert {p[2] for p in hot_pairs} == {0}


def _minhash_replay_buckets(text, q, num_hashes, bands):
    """Straight-line MinHash band buckets: md5 halves mod 2^31-1 as the
    base lanes, min_j over distinct grams of (a_j·h1 + b_j·h2 + j) mod
    2^31-1, bucket = md5 hex of the band's mins joined by '_' (NULL text:
    md5 of the empty string)."""
    import hashlib

    from pprl_spark.spark.dedup import minhash_coefficients

    m = 2**31 - 1
    r = num_hashes // bands
    if text is None:
        mins = None
    else:
        grams = {text[i:i + q] for i in range(max(len(text) - q + 1, 1))}
        lanes = []
        for g in grams:
            hx = hashlib.md5(g.encode("utf-8")).hexdigest()
            lanes.append((int(hx[:8], 16) % m, int(hx[8:16], 16) % m))
        mins = [min((a * h1 + b * h2 + j) % m for h1, h2 in lanes)
                for j, (a, b) in enumerate(minhash_coefficients(num_hashes))]
    return [
        hashlib.md5(
            ("" if mins is None else
             "_".join(str(x) for x in mins[band * r:(band + 1) * r])).encode()
        ).hexdigest()
        for band in range(bands)
    ]


def test_minhash_udf_signature_bit_identical(spark):
    """The per-row Arrow signature must produce the straight-line replay's
    band buckets, so the candidate pair sets equal the replayed bucket
    collisions — including NULL / empty / shorter-than-q edge rows and
    cross-corpus mode."""
    from pprl_spark.spark.dedup import minhash_band_keys, minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(0, base + "x"), (1, base + "y"),
            (2, "a completely different document about catalyst planning"),
            (3, ""), (4, None), (5, "abc"),
            (6, base + "x")]
    other_rows = [(100, base + "x"), (101, "nothing alike whatsoever here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    other = spark.createDataFrame(other_rows, "doc_id long, text string")
    kw = dict(q=5, num_hashes=32, bands=8)
    keys = {r["doc_id"]: list(r["k"]) for r in
            df.select("doc_id", minhash_band_keys("text", **kw).alias("k"))
            .collect()}
    assert keys == {i: _minhash_replay_buckets(t, **kw) for i, t in rows}

    def replay_pairs(left, right, self_mode):
        lb = {i: _minhash_replay_buckets(t, **kw) for i, t in left}
        rb = {i: _minhash_replay_buckets(t, **kw) for i, t in right}
        return {(a, b) for a in lb for b in rb
                if (a < b or not self_mode)
                and any(x == y for x, y in zip(lb[a], rb[b]))}

    self_pairs = {(r["id_a"], r["id_b"]) for r in
                  minhash_lsh_pairs(df, "doc_id", "text", **kw).collect()}
    assert self_pairs == replay_pairs(rows, rows, True) and (0, 6) in self_pairs
    cross = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(df, "doc_id", "text", df_other=other,
                               **kw).collect()}
    assert cross == replay_pairs(rows, other_rows, False) and (0, 100) in cross


def test_minhash_lsh_pairs_walk_edges_equal_replay(spark):
    """The bucket walk on md5-hex string buckets, with 5-row Arrow batches
    so runs straddle batch boundaries: duplicate-text groups whose
    per-side size is exactly ``max_bucket_size`` (kept) and one more
    (dropped), a group longer than a batch, and one-character variants
    that share only some bands — self and cross mode, capped and not,
    against the straight-line bucket replay."""
    import itertools
    import random
    from collections import defaultdict

    from pprl_spark.spark.dedup import minhash_lsh_pairs

    cap, kw = 3, dict(q=3, num_hashes=16, bands=8)
    rnd, ids = random.Random(5), itertools.count()

    def doc():
        return " ".join("".join(rnd.choice("abcdefgh") for _ in range(4)) for _ in range(6))

    def group(text, n):
        return [(next(ids), text) for _ in range(n)]

    # self: ids 0-2 and 3-5 at the cap, 6-9 over it, 10-16 longer than a batch
    selfs = [r for n in (cap, cap, cap + 1, 2 * cap + 1) for r in group(doc(), n)]
    left, right = [], []
    for n_l, n_r in [(cap, cap), (cap, cap), (cap + 1, 1), (1, cap + 1), (2, 2), (1, 1)]:
        text = doc()
        left += group(text, n_l) + group(doc(), 1)
        right += group(text, n_r)
    for _ in range(3):  # one-word variants share only some bands
        text = doc()
        selfs += group(text, 1) + group(text[:-4] + "zzzz", 1) + group(doc(), 1)
        left += group(text, 1)
        right += group(text[:-4] + "zzzz", 1)

    def buckets(side):
        out = defaultdict(list)
        for i, t in side:
            for band, b in enumerate(_minhash_replay_buckets(t, **kw)):
                out[(band, b)].append(i)
        return out

    def replay(side, other, limit):
        def ok(ids):
            return limit is None or len(ids) <= limit

        bl = buckets(side)
        if other is None:
            return {(min(a, b), max(a, b)) for ids in bl.values() if ok(ids)
                    for a in ids for b in ids if a != b}
        br = buckets(other)
        return {(a, b) for key, ids in bl.items() if ok(ids) and ok(br.get(key, []))
                for a in ids for b in br.get(key, [])}

    schema = "doc_id long, text string"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        got = {}
        for limit in (None, cap):
            for mode, side, other in (("self", selfs, None), ("cross", left, right)):
                pairs = minhash_lsh_pairs(
                    spark.createDataFrame(side, schema), "doc_id", "text",
                    max_bucket_size=limit, **kw,
                    df_other=None if other is None else spark.createDataFrame(other, schema),
                )
                got[mode, limit] = {tuple(r) for r in pairs.collect()}
    finally:
        spark.conf.set(key, old)
    for limit in (None, cap):
        assert got["self", limit] == replay(selfs, None, limit)
        assert got["cross", limit] == replay(left, right, limit)
    # the fixture reaches both cap edges: at-cap groups pair, over-cap
    # groups (and the group longer than a batch) only pair uncapped
    assert {(0, 1), (0, 2), (1, 2), (3, 5)} <= got["self", cap]
    assert {(6, 9), (10, 16)} <= got["self", None] - got["self", cap]
    assert len(got["cross", cap]) >= 2 * cap * cap
    assert len(got["cross", None] - got["cross", cap]) >= 2 * (cap + 1)


# ---------------------------------------------------------------- r6 paths


def test_simhash_chunk_pair_blocking_matches_single_chunk(spark):
    """With max_hamming <= chunks-2 simhash_pairs buckets on chunk-PAIR
    keys and emits each pair at its first agreeing chunk pair.
    Pigeonhole makes it exact for the threshold, so the output must equal
    the single-chunk blocking filtered to the same threshold — pair set
    AND hamming values."""
    from pyspark.sql import functions as F

    from pprl_spark.spark.dedup import simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fast = simhash_pairs(docs, "doc_id", "text", q=3, chunks=8, max_hamming=6)
    # max_hamming=None keeps the ≥1-chunk blocking; filtering its output
    # at ≤6 afterwards is the reference answer
    legacy = simhash_pairs(docs, "doc_id", "text", q=3, chunks=8).filter(
        F.col("hamming") <= 6
    )
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, legacy.collect()))
    assert a == b and len(a) > 0


def test_simhash_chunk_pair_emits_each_pair_once(spark):
    """The first-agreeing-chunk-pair rule stands in for a dedup shuffle,
    so the raw output must already be duplicate-free."""
    from pprl_spark.spark.dedup import simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = simhash_pairs(docs, "doc_id", "text", q=3, chunks=8, max_hamming=6)
    pairs = [(r.id_a, r.id_b) for r in out.collect()]
    assert len(pairs) == len(set(pairs))


def test_match_lsh_scores_equal_kernel_similarity(spark):
    """match_lsh's bucket scorer must emit exactly the capped-bucket
    candidates whose kernel similarity clears the threshold, each with
    the kernel's similarity double — not an approximation of it."""
    from collections import defaultdict
    from itertools import combinations

    from pyspark.sql import functions as F

    from pprl_spark.config import (
        CLKFilter,
        HashConfig,
        HashFunctionConfig,
        MaskConfig,
        MatchConfig,
    )
    from pprl_spark.kernels.similarity import pair_similarity
    from pprl_spark.spark.lsh import LSHConfig, add_band_signatures
    from pprl_spark.spark.mask import mask
    from pprl_spark.spark.match import match_lsh

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    cfg = MaskConfig(
        filter=CLKFilter(1024, 3),
        hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
        token_size=4,
        padding="_",
        prepend_attribute_name=False,
    )
    encoded = mask(docs, cfg, ["text"])
    lshcfg = LSHConfig(num_bits=1024, num_bands=64, band_width=16, seed=727,
                       scheme="chunked")
    mcfg = MatchConfig("dice", 0.85)
    got = sorted(map(tuple, match_lsh(encoded, None, mcfg, lshcfg,
                                      max_bucket_size=400).collect()))
    vecs = {r["id"]: bytes(r["bloom"])
            for r in encoded.select("id", "bloom").collect()}
    buckets = defaultdict(list)
    for r in add_band_signatures(encoded, lshcfg).select(
            "id", "band", "sig").collect():
        buckets[(r["band"], r["sig"])].append(r["id"])
    cands = sorted({
        (a, b)
        for ids in buckets.values() if len(ids) <= 400
        for a, b in combinations(sorted(ids), 2)
    })
    sims = pair_similarity("dice", [vecs[a] for a, _ in cands],
                           [vecs[b] for _, b in cands])
    want = sorted(
        (a, b, float(s)) for (a, b), s in zip(cands, sims) if s >= 0.85
    )
    assert got == want and len(got) > 0


def test_match_lsh_jvm_engine_rejects_odd_vector_length(spark):
    """match_lsh's bucket scorer reads exactly ceil(num_bits/8) bytes per
    vector; a vector of any other length must fail loudly, not silently
    truncate, and name the fix."""
    import pytest
    from pyspark.sql import Row

    from pprl_spark.config import MatchConfig
    from pprl_spark.spark.lsh import LSHConfig
    from pprl_spark.spark.match import match_lsh

    df = spark.createDataFrame(
        [Row(id="a", bloom=b"\xff" * 4), Row(id="b", bloom=b"\xff" * 4)]
    )
    out = match_lsh(
        df, None, MatchConfig("dice", 0.1),
        LSHConfig(num_bits=16, num_bands=2, band_width=8, scheme="chunked"),
    )
    with pytest.raises(Exception, match="expects 2-byte vectors") as err:
        out.collect()
    assert "set lsh.num_bits" in str(err.value)


def test_banned_member_expr_matches_array_contains(spark):
    """r6 (VERDICT r5 #5): the sorted-array binary-search membership used
    by the boilerplate line filter must agree with array_contains on
    arbitrary arrays/keys — empties, singletons, below/above range, both
    sides of the linear-scan size gate."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pprl_spark.spark.webtext import _member_expr

    random.seed(7)
    rows = []
    for _ in range(300):
        n = random.choice([0, 1, 2, 3, 63, 64, 65, 100, 1000])
        arr = sorted(random.sample(range(-10**12, 10**12), n))
        pool = [random.randrange(-10**12, 10**12), -10**13, 10**13]
        if arr:
            pool += [arr[0], arr[-1], random.choice(arr)]
        rows.append(Row(arr=arr, key=random.choice(pool)))
    df = spark.createDataFrame(rows)
    bad = df.select(
        (
            _member_expr(F.col("arr"), F.col("key"), 100_000)
            == F.array_contains("arr", F.col("key"))
        ).alias("ok")
    ).filter(~F.col("ok")).count()
    assert bad == 0
