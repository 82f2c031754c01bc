"""End-to-end staged dedup job: stats → fingerprint/pairs → components →
canonical map, checkpointed and resumable — the training-data-pipeline
counterpart of jobs/pprl_job.py.

Launch (cluster):
    spark-submit --py-files pprl_spark.zip jobs/dedup_job.py \
        --docs /path/documents.parquet --workdir /ckpt/dedup1

Launch (sandbox):
    python jobs/dedup_job.py --docs /root/testdata/sf0.001/documents.parquet \
        --workdir /tmp/dedup_run

Stage graph (each a parquet checkpoint with lineage + metrics):

    stats      documents → full quality-filter decision (token band,
               heuristic quality, Gopher repetition signals, language —
               spark/quality.filter_documents, one map-only per-row pass:
               Catalyst signals + one Arrow UDF, no shuffle or join);
               only kept docs enter dedup
    pairs      MinHash-LSH candidates → exact-Jaccard-verified near-dup
               edges (slim (id_a, id_b, jaccard) rows)
    components large-star/small-star connected components over the edges
    canonical  every kept doc → its cluster representative (min doc_id),
               plus is_canonical / cluster_size — the table a training
               pipeline joins against to drop duplicates
    shards     canonical representatives packed into ~token-budget shards
               (spark/packing.assign_shards, distributed prefix sum) —
               the final write layout for training

Optional stages: ``--lm-max-perplexity`` inserts a CCNet-style Stupid
Backoff LM gate after stats; ``--boilerplate-min-doc-fraction`` inserts
a RefinedWeb-style repeated-line removal stage before dedup (boilerplate
would otherwise glue unrelated pages into near-dup clusters);
``--redact`` appends a PII scrub of the canonical documents (last, so
counts describe the text that actually ships).

Re-running with the same workdir resumes from completed stages; changing
a stage's config (e.g. the Jaccard threshold) invalidates it and every
downstream stage via the lineage fingerprint.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def build_stages(docs_path: str, q: int, threshold: float, min_quality: float,
                 shard_budget: int = 2000,
                 lm_max_perplexity: float | None = None,
                 lm_train_path: str | None = None, lm_order: int = 3,
                 boilerplate_min_doc_fraction: float | None = None,
                 redact: bool = False):
    from pprl_spark.spark.dedup import jaccard_verify, minhash_lsh_pairs
    from pprl_spark.spark.graph import assign_components
    from pprl_spark.spark.lm import score_documents, train_stupid_backoff
    from pprl_spark.spark.packing import assign_shards
    from pprl_spark.spark.pipeline import Stage
    from pprl_spark.spark.quality import FilterRules, filter_documents
    from pprl_spark.spark.textstats import whitespace_token_count

    # when the CCNet-style LM stage is enabled, everything downstream of
    # the quality filter consumes its survivors instead of stats's; the
    # RefinedWeb-style boilerplate stage (when enabled) rewrites text
    # after that and becomes the upstream of dedup/shards
    upstream = "lm" if lm_max_perplexity is not None else "stats"
    if boilerplate_min_doc_fraction is not None:
        text_upstream, upstream = upstream, "boiler"

    def stats(spark, inputs):
        docs = spark.read.parquet(docs_path).select("doc_id", "text")
        decided = filter_documents(docs, FilterRules(min_quality=min_quality))
        return decided.where(F.col("keep"))

    def lm(spark, inputs):
        kept = inputs["stats"]
        # trusted-corpus LM when provided (the CCNet setup: train on a
        # known-good corpus, score the crawl).  Self-trained otherwise —
        # note Stupid Backoff has no held-out smoothing, so a singleton
        # document's own n-grams score near-perfectly; self-training only
        # flags docs whose VOCABULARY is rare in the corpus, and a
        # trusted --lm-train corpus is the recommended deployment
        train = (
            spark.read.parquet(lm_train_path).select("doc_id", "text")
            if lm_train_path
            else kept.select("doc_id", "text")
        )
        counts = train_stupid_backoff(train, order=lm_order)
        scored = score_documents(
            kept.select("doc_id", "text"), counts, order=lm_order
        )
        ok = scored.where(
            (F.col("perplexity") >= 0)
            & (F.col("perplexity") <= lm_max_perplexity)
        ).select("doc_id", "perplexity")
        return kept.join(ok, "doc_id")

    def boiler(spark, inputs):
        # corpus-level boilerplate line removal before dedup (RefinedWeb
        # order: site boilerplate would otherwise glue unrelated pages
        # into near-dup clusters); n_tokens is recomputed because the
        # shard budget must count the text that actually ships
        from pprl_spark.spark.webtext import remove_boilerplate_lines

        kept = inputs[text_upstream]
        return remove_boilerplate_lines(
            kept, min_docs=2,
            min_doc_fraction=boilerplate_min_doc_fraction,
        ).withColumn("n_tokens", whitespace_token_count(F.col("text")))

    def pairs(spark, inputs):
        docs = inputs[upstream].select("doc_id", "text")
        cands = minhash_lsh_pairs(docs, "doc_id", "text", q=q,
                                  num_hashes=128, bands=16,
                                  max_bucket_size=1000)
        return jaccard_verify(cands, docs, "doc_id", "text", q=q,
                              threshold=threshold)

    def components(spark, inputs):
        docs = inputs[upstream].select("doc_id")
        edges = inputs["pairs"].select("id_a", "id_b")
        return assign_components(docs, "doc_id", edges)

    def canonical(spark, inputs):
        comp = inputs["components"]
        sizes = comp.groupBy("component").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        return (
            comp.join(sizes, "component")
            .select(
                "doc_id",
                F.col("component").alias("canonical_doc_id"),
                (F.col("doc_id") == F.col("component")).alias("is_canonical"),
                "cluster_size",
            )
        )

    def shards(spark, inputs):
        keep = inputs["canonical"].where(F.col("is_canonical")).select("doc_id")
        docs = inputs[upstream].select("doc_id", "n_tokens")
        kept = docs.join(keep, "doc_id")
        return assign_shards(kept, "doc_id", "n_tokens", budget=shard_budget)

    def redact_stage(spark, inputs):
        # PII scrub of the canonical (shipping) documents — last, so the
        # per-kind counts describe exactly the text that leaves the
        # pipeline, and redaction can't perturb dedup similarity
        from pprl_spark.spark.pii import redact_pii

        keep = inputs["canonical"].where(F.col("is_canonical")).select("doc_id")
        docs = inputs[upstream].select("doc_id", "text").join(keep, "doc_id")
        return redact_pii(docs)

    stages = [
        Stage("stats", stats, config={"docs": docs_path,
                                      "min_quality": min_quality}),
    ]
    if lm_max_perplexity is not None:
        stages.append(
            Stage("lm", lm, inputs=("stats",),
                  config={"max_perplexity": lm_max_perplexity,
                          "train": lm_train_path or "<self>",
                          "order": lm_order}),
        )
    if boilerplate_min_doc_fraction is not None:
        stages.append(
            Stage("boiler", boiler, inputs=(text_upstream,),
                  config={"min_docs": 2,
                          "min_doc_fraction": boilerplate_min_doc_fraction}),
        )
    stages += [
        Stage("pairs", pairs, inputs=(upstream,),
              config={"q": q, "threshold": threshold,
                      "num_hashes": 128, "bands": 16}),
        Stage("components", components, inputs=(upstream, "pairs")),
        Stage("canonical", canonical, inputs=("components",)),
        Stage("shards", shards, inputs=(upstream, "canonical"),
              config={"budget": shard_budget}),
    ]
    if redact:
        stages.append(
            Stage("redact", redact_stage, inputs=(upstream, "canonical"),
                  config={"kinds": "all"}),
        )
    return stages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--q", type=int, default=5)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--shard-budget", type=int, default=2000)
    ap.add_argument("--lm-max-perplexity", type=float, default=None,
                    help="enable the CCNet-style Stupid Backoff LM stage "
                    "between quality filter and dedup")
    ap.add_argument("--lm-train", default=None,
                    help="trusted-corpus parquet to train the LM on "
                    "(default: the quality-filtered corpus itself)")
    ap.add_argument("--lm-order", type=int, default=3)
    ap.add_argument("--boilerplate-min-doc-fraction", type=float, default=None,
                    help="enable the RefinedWeb-style boilerplate line "
                    "removal stage before dedup at this spread threshold")
    ap.add_argument("--redact", action="store_true",
                    help="add a final PII-redaction stage over the "
                    "canonical documents")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pprl_spark.spark.pipeline import Pipeline
    from pprl_spark.spark.session import get_spark

    spark = get_spark("dedup-job", master=args.master)
    pipeline = Pipeline(
        spark, args.workdir,
        build_stages(args.docs, args.q, args.threshold, args.min_quality,
                     shard_budget=args.shard_budget,
                     lm_max_perplexity=args.lm_max_perplexity,
                     lm_train_path=args.lm_train, lm_order=args.lm_order,
                     boilerplate_min_doc_fraction=(
                         args.boilerplate_min_doc_fraction),
                     redact=args.redact),
    )
    results = pipeline.run()
    canon = results["canonical"]
    shard_summary = results["shards"].agg(
        F.countDistinct("shard").alias("n_shards"),
        F.sum("n_tokens").alias("total_tokens"),
    ).first().asDict()
    summary = canon.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("is_canonical").cast("long")).alias("canonical_docs"),
        F.max("cluster_size").alias("largest_cluster"),
    ).first().asDict()
    print(json.dumps({"summary": summary, "shards": shard_summary,
                      "metrics": pipeline.metrics()},
                     indent=2, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
