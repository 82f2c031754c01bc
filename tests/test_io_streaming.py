"""I/O round-trips (reference CSV wire formats) and streaming stages."""

import numpy as np
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from pprl_spark.config import CLKFilter, HashConfig, HashFunctionConfig, MaskConfig
from pprl_spark.io import (
    read_bit_vector_csv,
    read_entity_csv,
    read_pages,
    write_bit_vector_csv,
    write_match_csv,
)
from pprl_spark.kernels import bits as bitk
from pprl_spark.spark.mask import mask
from pprl_spark.streaming import streaming_mask, streaming_windowed_counts

CFG = MaskConfig(
    filter=CLKFilter(256, 3),
    hash=HashConfig(HashFunctionConfig(("sha1",)), "double_hash"),
    token_size=2,
    padding="_",
)


def test_entity_csv_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [("e1", "Anna", "Müller"), ("e2", "Bert", "O'Brien")],
        ["pid", "firstName", "lastName"],
    )
    src.write.csv(str(tmp_path / "in"), header=True)
    df = read_entity_csv(spark, str(tmp_path / "in"), id_column="pid")
    rows = {r["id"]: (r["firstName"], r["lastName"]) for r in df.collect()}
    assert rows == {"e1": ("Anna", "Müller"), "e2": ("Bert", "O'Brien")}


def test_entity_csv_missing_id_column(spark, tmp_path):
    spark.createDataFrame([("x",)], ["a"]).write.csv(str(tmp_path / "in"), header=True)
    with pytest.raises(ValueError, match="column `id` not found"):
        read_entity_csv(spark, str(tmp_path / "in"))


def test_bit_vector_csv_roundtrip(spark, tmp_path):
    src = spark.createDataFrame([("e1", "Anna")], ["id", "name"])
    encoded = mask(src, CFG, ["name"])
    write_bit_vector_csv(encoded, str(tmp_path / "vecs"))
    back = read_bit_vector_csv(spark, str(tmp_path / "vecs"))
    orig = {r["id"]: bytes(r["bloom"]) for r in encoded.collect()}
    got = {r["id"]: bytes(r["bloom"]) for r in back.collect()}
    assert got == orig


def test_bit_vector_csv_invalid_base64(spark, tmp_path):
    (tmp_path / "bad").mkdir()
    (tmp_path / "bad" / "part.csv").write_text("id,value\nv1,=A=\n")
    # default is lazy validation: the reference's error (with the offending
    # id) fires inside the first downstream action, costing a clean read
    # zero extra jobs; validate="eager" raises at read time
    with pytest.raises(Exception, match="invalid Base64.*v1"):
        read_bit_vector_csv(spark, str(tmp_path / "bad")).collect()
    with pytest.raises(ValueError, match="invalid Base64.*v1"):
        read_bit_vector_csv(spark, str(tmp_path / "bad"), validate="eager")


def test_match_csv_sink(spark, tmp_path):
    matches = spark.createDataFrame(
        [("a", "b", 0.9)], ["domain_id", "range_id", "similarity"]
    )
    write_match_csv(matches, str(tmp_path / "m"), "fileA", "fileB")
    back = spark.read.csv(str(tmp_path / "m"), header=True).collect()[0]
    assert (back["domain_id"], back["domain_file"], back["range_id"],
            back["range_file"]) == ("a", "fileA", "b", "fileB")


def test_read_pages_parquet_and_iceberg_error(spark, tmp_path):
    from pprl_spark.fixtures import make_pages

    make_pages(spark, 50).write.mode("overwrite").parquet(str(tmp_path / "pages"))
    df = read_pages(spark, str(tmp_path / "pages"))
    assert df.count() == 50
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_pages(spark, str(tmp_path / "missing"))


def test_streaming_mask_matches_batch(spark, tmp_path):
    src_dir = tmp_path / "stream_in"
    out_dir = tmp_path / "stream_out"
    ckpt = tmp_path / "ckpt"
    batch_df = spark.createDataFrame(
        [("e1", "Anna"), ("e2", "Bert"), ("e3", "Müller")], ["id", "name"]
    )
    batch_df.write.parquet(str(src_dir))

    stream = spark.readStream.schema("id string, name string").parquet(str(src_dir))
    encoded = streaming_mask(stream, CFG, ["name"])
    q = (
        encoded.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: bytes(r["bloom"]) for r in spark.read.parquet(str(out_dir)).collect()}
    expected = {r["id"]: bytes(r["bloom"]) for r in mask(batch_df, CFG, ["name"]).collect()}
    assert got == expected


def test_streaming_windowed_counts(spark, tmp_path):
    import datetime

    src_dir = tmp_path / "ev_in"
    rows = [
        (datetime.datetime(2024, 1, 1, 0, 10), "click"),
        (datetime.datetime(2024, 1, 1, 0, 40), "click"),
        (datetime.datetime(2024, 1, 1, 1, 5), "view"),
    ]
    spark.createDataFrame(rows, "ts timestamp, event_type string").write.parquet(str(src_dir))
    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(str(src_dir))
    counts = streaming_windowed_counts(stream, window="1 hour")
    # complete mode: with a finite source the watermark never advances past
    # the last window, so append mode would withhold it forever
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert got == {(0, "click"): 2, (1, "view"): 1}


def test_streaming_mask_rejects_batch_df(spark):
    df = spark.createDataFrame([("e1", "x")], ["id", "name"])
    with pytest.raises(ValueError, match="expects a streaming DataFrame"):
        streaming_mask(df, CFG, ["name"])


def test_streaming_heavy_hitters_by_key(spark, tmp_path):
    """Two micro-batches of events -> running per-key MG summary; with
    distinct items < capacity the counts are exact and equal the batch
    groupBy, and the state carries across batches (n_rows_seen sums)."""
    import pyspark.sql.functions as SF

    from pprl_spark.streaming.encode_stream import streaming_heavy_hitters_by_key

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    b1 = [("en", "click")] * 5 + [("en", "view")] * 3 + [("de", "click")] * 2
    b2 = [("en", "click")] * 4 + [("de", "buy")] * 6
    schema = "lang string, event string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_heavy_hitters_by_key(stream, "lang", "event", capacity=8, top_k=5)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(out).collect()
    # last emission per key = the one with max n_rows_seen
    latest = {}
    for r in rows:
        if r["key"] not in latest or r["n_rows_seen"] > latest[r["key"]]["n_rows_seen"]:
            latest[r["key"]] = r
    en = latest["en"]
    assert en["error_offset"] == 0 and en["n_rows_seen"] == 12
    assert {t["item"]: t["count_lower"] for t in en["top_items"]} == {
        "click": 9, "view": 3
    }
    de = latest["de"]
    assert de["n_rows_seen"] == 8
    assert {t["item"]: t["count_lower"] for t in de["top_items"]} == {
        "buy": 6, "click": 2
    }
