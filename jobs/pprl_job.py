"""End-to-end staged PPRL job: extract → transform → encode → block →
match → sketch, checkpointed and resumable.

Launch (cluster):
    spark-submit --py-files pprl_spark.zip jobs/pprl_job.py \
        --pages /path/to/pages.parquet --workdir /ckpt/run1 [--resume]

Launch (sandbox):
    python jobs/pprl_job.py --pages /root/testdata/sf0.001/documents.parquet \
        --workdir /tmp/pprl_run --docs-mode

Re-running with the same workdir resumes: completed stages are read from
their parquet checkpoints (lineage-fingerprint gated), the chunked encode
stage skips completed chunks (pprl_spark.spark.pipeline).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def build_stages(pages_path: str, docs_mode: bool, encode_chunks: int):
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
    from pprl_spark.spark.lsh import LSHConfig
    from pprl_spark.spark.mask import mask
    from pprl_spark.spark.match import match_lsh
    from pprl_spark.spark.pipeline import Stage
    from pprl_spark.spark.transform import transform

    mask_cfg = MaskConfig(
        filter=CLKFilter(1024, 3),
        hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
        token_size=4,
        padding="_",
        prepend_attribute_name=False,
    )
    lsh_cfg = LSHConfig(num_bits=1024, num_bands=64, band_width=16, seed=727, scheme="chunked")
    match_cfg = MatchConfig("dice", 0.85)
    transform_cfg = TransformConfig(
        attribute_transformers=(
            AttributeTransformerConfig("text", (TransformerSpec("normalization"),)),
        ),
    )

    def extract(spark, inputs):
        from pprl_spark.io import read_pages

        df = read_pages(spark, pages_path)
        if docs_mode:  # documents(doc_id, text, ...) stand-in for pages
            df = df.select(F.col("doc_id").cast("string").alias("url"), "text")
        else:
            df = df.select("url", "text")  # html pruned at the scan
        return df

    def normalize_stage(spark, inputs):
        return transform(inputs["extract"], transform_cfg, ["text"])

    def encode(spark, inputs):
        df = inputs["transform"].withColumnRenamed("url", "id")
        return mask(df, mask_cfg, ["text"])

    def block_match(spark, inputs):
        return match_lsh(
            inputs["encode"], None, match_cfg, lsh_cfg, max_bucket_size=400
        )

    def sketch_stage(spark, inputs):
        from pprl_spark.sketch import HyperLogLog, KLLSketch, sketch_column

        hll = sketch_column(inputs["encode"], "id", lambda: HyperLogLog(p=14))
        matches = inputs["match"]
        kll = sketch_column(matches, "similarity", lambda: KLLSketch(k=200))
        rows = [
            ("distinct_ids_hll", float(hll.estimate())),
            ("match_sim_p50", float(kll.quantile(0.5))),
            ("match_sim_p90", float(kll.quantile(0.9))),
            ("n_matches", float(matches.count())),
        ]
        return spark.createDataFrame(rows, "stat string, value double")

    return [
        Stage("extract", extract, config={"pages": pages_path}),
        Stage("transform", normalize_stage, inputs=("extract",),
              config={"transformers": "normalization"}),
        Stage("encode", encode, inputs=("transform",),
              config={"m": 1024, "k": 3, "q": 4},
              split_by="id", num_chunks=encode_chunks),
        Stage("match", block_match, inputs=("encode",),
              config={"threshold": 0.85, "bands": 64, "width": 16}),
        Stage("sketch", sketch_stage, inputs=("encode", "match")),
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--docs-mode", action="store_true",
                    help="input is the documents(doc_id, text) testdata shape")
    ap.add_argument("--encode-chunks", type=int, default=8)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pprl_spark.spark.pipeline import Pipeline
    from pprl_spark.spark.session import get_spark

    spark = get_spark("pprl-job", master=args.master)
    pipeline = Pipeline(
        spark, args.workdir,
        build_stages(args.pages, args.docs_mode, args.encode_chunks),
    )
    results = pipeline.run()
    stats = {r["stat"]: r["value"] for r in results["sketch"].collect()}
    print(json.dumps({"stats": stats, "metrics": pipeline.metrics()}, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
