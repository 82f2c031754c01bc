"""Checkpoint/resume pipeline: stage skip on re-run, chunk-level mid-stage
resume, invalidation on config change, lineage + per-partition metrics."""

import json

import pytest
from pyspark.sql import functions as F

from pprl_spark.spark.pipeline import Pipeline, Stage

CALLS: list[str] = []


def _mk_stages(n_rows=500, double_cfg=None):
    def src(spark, inputs):
        CALLS.append("src")
        return spark.range(n_rows).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        )

    def doubled(spark, inputs):
        CALLS.append("doubled")
        return inputs["src"].withColumn("v", F.col("id") * (double_cfg or 2))

    def agg(spark, inputs):
        CALLS.append("agg")
        return inputs["doubled"].groupBy("k").agg(F.sum("v").alias("sv"))

    return [
        Stage("src", src),
        Stage("doubled", doubled, inputs=("src",), config={"mult": double_cfg or 2},
              split_by="id", num_chunks=4),
        Stage("agg", agg, inputs=("doubled",)),
    ]


def test_run_then_resume_skips_everything(spark, tmp_path):
    CALLS.clear()
    p = Pipeline(spark, tmp_path, _mk_stages())
    out1 = p.run()
    assert CALLS == ["src", "doubled", "agg"]
    result1 = {r["k"]: r["sv"] for r in out1["agg"].collect()}

    CALLS.clear()
    p2 = Pipeline(spark, tmp_path, _mk_stages())
    out2 = p2.run()
    assert CALLS == [], f"resume must not recompute stages, ran {CALLS}"
    assert {r["k"]: r["sv"] for r in out2["agg"].collect()} == result1


def test_resumed_chunked_stage_schema_equals_fresh_run(spark, tmp_path):
    """ADVICE r1: the resume path of a completed chunked stage must not
    re-add the discovered ``chunk`` partition column — downstream stages
    must see the identical schema on fresh and resumed runs."""
    fresh = Pipeline(spark, tmp_path, _mk_stages()).run()
    fresh_cols = fresh["doubled"].columns
    resumed = Pipeline(spark, tmp_path, _mk_stages()).run()
    assert resumed["doubled"].columns == fresh_cols
    assert "chunk" not in resumed["doubled"].columns


@pytest.mark.parametrize("kept_chunks_layout", ["single_pass", "scan_per_chunk"])
def test_chunk_level_mid_stage_resume(spark, tmp_path, kept_chunks_layout):
    """Resume after losing two chunks.  ``single_pass``: the kept chunks are
    the ones the partitioned write left.  ``scan_per_chunk``: the kept
    chunks are rewritten one write job per chunk directory, the layout of
    workdirs made by the former per-chunk writer, which must still resume."""
    import shutil

    CALLS.clear()
    Pipeline(spark, tmp_path, _mk_stages()).run()
    if kept_chunks_layout == "scan_per_chunk":
        doubled = spark.range(500).select(F.col("id"), (F.col("id") % 7).alias("k"),
                                          (F.col("id") * 2).alias("v"))
        chunk_expr = F.pmod(F.xxhash64(F.col("id")), F.lit(4))
        for chunk in (0, 2):
            cdir = tmp_path / "doubled" / "data" / f"chunk={chunk}"
            shutil.rmtree(cdir)
            doubled.filter(chunk_expr == chunk).write.mode("overwrite").parquet(str(cdir))
            assert (cdir / "_SUCCESS").exists()
    # simulate a crash mid-way through the chunked stage: lineage.json is
    # written last, so a crash leaves pending.json + some chunks but no
    # lineage; chunks 1 and 3 are lost with the dying executor
    (tmp_path / "doubled" / "lineage.json").unlink()
    (tmp_path / "doubled" / "metrics.json").unlink()
    for chunk in (1, 3):
        shutil.rmtree(tmp_path / "doubled" / "data" / f"chunk={chunk}")
    shutil.rmtree(tmp_path / "agg")  # downstream never ran

    CALLS.clear()
    p = Pipeline(spark, tmp_path, _mk_stages())
    result = p.run()
    metrics = json.loads((tmp_path / "doubled" / "metrics.json").read_text())
    assert metrics["chunks_skipped"] == 2
    assert metrics["chunks_run"] == 2
    total = result["doubled"].count()
    assert total == 500
    # values correct end-to-end
    got = {r["k"]: r["sv"] for r in result["agg"].collect()}
    expected = {k: sum(i * 2 for i in range(500) if i % 7 == k) for k in range(7)}
    assert got == expected


def test_config_change_invalidates_stage_and_downstream(spark, tmp_path):
    CALLS.clear()
    Pipeline(spark, tmp_path, _mk_stages(double_cfg=2)).run()
    CALLS.clear()
    out = Pipeline(spark, tmp_path, _mk_stages(double_cfg=3)).run()
    # src untouched; doubled + agg recomputed
    assert CALLS == ["doubled", "agg"]
    got = {r["k"]: r["sv"] for r in out["agg"].collect()}
    expected = {k: sum(i * 3 for i in range(500) if i % 7 == k) for k in range(7)}
    assert got == expected


def test_lineage_and_metrics_written(spark, tmp_path):
    p = Pipeline(spark, tmp_path, _mk_stages())
    p.run()
    lineage = json.loads((tmp_path / "agg" / "lineage.json").read_text())
    assert lineage["stage"] == "agg"
    assert "doubled" in lineage["inputs"]
    assert lineage["rows"] == 7
    metrics = p.metrics()
    assert set(metrics) == {"src", "doubled", "agg"}
    for m in metrics.values():
        assert m["wall_seconds"] >= 0
        assert sum(m["partition_rows"].values()) == m["rows"]


def test_missing_input_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="missing inputs"):
        Pipeline(spark, tmp_path, [Stage("x", lambda s, i: None, inputs=("nope",))]).run()


def test_duplicate_stage_names_raise(spark, tmp_path):
    with pytest.raises(ValueError, match="unique"):
        Pipeline(spark, tmp_path, [Stage("x", lambda s, i: None), Stage("x", lambda s, i: None)])
