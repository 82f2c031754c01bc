"""Round-6 stage-level profiling: isolate the expensive queries' internal
stages with the noop sink so the computation is timed, not the sink.
Usage: python tools/prof_r6.py <sf_dir> <section> [section...]
Sections: minhash simhash lsh fpj textq
"""
import sys
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F

from pprl_spark.spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1.0"
SECTIONS = sys.argv[2:] or ["minhash", "simhash", "lsh", "fpj", "textq"]

spark = get_spark("prof-r6", master="local[32]")
spark.range(1000).selectExpr("sum(id)").collect()


def t(label, df, collect=False):
    spark.sparkContext.setJobDescription(label)
    t0 = time.monotonic()
    if collect:
        n = len(df.collect())
    else:
        df.write.format("noop").mode("overwrite").save()
        n = -1
    dt = time.monotonic() - t0
    print(f"{label:45s} {dt:7.2f}s rows={n}", flush=True)
    spark.sparkContext.setJobDescription(None)
    return dt


def load(name):
    return spark.read.parquet(f"{SF}/{name}.parquet")


if "minhash" in SECTIONS:
    from pprl_spark.spark.dedup import jaccard_verify, minhash_lsh_pairs

    docs = load("documents")
    # stage 1: signatures only (udf engine)
    from pprl_spark.spark import dedup as D

    # replicate _banded's output alone
    cands = minhash_lsh_pairs(docs, "doc_id", "text", q=5, num_hashes=128, bands=16)
    t("minhash: candidates (band join+dedup)", cands)
    ver = jaccard_verify(cands, docs, "doc_id", "text", q=5, threshold=0.8)
    t("minhash: full verify", ver)
    # how many candidates?
    spark.sparkContext.setJobDescription("minhash: candidate count")
    t0 = time.monotonic()
    print("  n_cands =", cands.count(), f"({time.monotonic()-t0:.2f}s)")

if "simhash" in SECTIONS:
    from pprl_spark.spark.dedup import simhash_fingerprints_udf, simhash_pairs

    docs = load("documents")
    fp = simhash_fingerprints_udf(docs, "doc_id", "text", q=3, chunks=8)
    t("simhash: fingerprints (udf)", fp)
    pairs = simhash_pairs(docs, "doc_id", "text", q=3, chunks=8, max_hamming=6)
    t("simhash: pairs noop", pairs)
    t("simhash: pairs collect", pairs, collect=True)
    spark.sparkContext.setJobDescription("simhash: distinct fingerprints")
    t0 = time.monotonic()
    print("  distinct (hi,lo) =", fp.select("hi", "lo").distinct().count(),
          f"({time.monotonic()-t0:.2f}s)")

if "lsh" in SECTIONS:
    import __spark_entry__ as E

    docs = load("documents")
    # encode alone
    from pprl_spark.config import (
        CLKFilter,
        HashConfig,
        HashFunctionConfig,
        MaskConfig,
        MatchConfig,
    )
    from pprl_spark.spark.lsh import LSHConfig, add_band_signatures
    from pprl_spark.spark.mask import mask

    d2 = docs.select(F.col("doc_id").cast("string").alias("id"), F.col("text"))
    d2 = d2.repartition(32)
    cfg = MaskConfig(
        filter=CLKFilter(1024, 3),
        hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
        token_size=4,
        padding="_",
        prepend_attribute_name=False,
    )
    encoded = mask(d2, cfg, ["text"])
    t("lsh: encode only", encoded)
    lshcfg = LSHConfig(num_bits=1024, num_bands=64, band_width=16, seed=727,
                       scheme="chunked")
    dom_vec = encoded.select(F.col("id").alias("domain_id"),
                             F.col("bloom").alias("__domain_bloom")) \
        .repartition(64, "domain_id")
    dom = add_band_signatures(
        dom_vec.select("domain_id", F.col("__domain_bloom").alias("__b")),
        lshcfg, "__b").select("domain_id", "band", "sig")
    t("lsh: banded rows", dom)
    sizes = dom.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("__n"))
    ok = sizes.filter(F.col("__n") <= 400).drop("__n")
    dom_c = dom.join(ok, on=["band", "sig"], how="inner")
    rng = dom_c.select(F.col("domain_id").alias("range_id"), "band", "sig")
    cand = (dom_c.join(rng, on=["band", "sig"], how="inner")
            .filter(F.col("domain_id") < F.col("range_id"))
            .select("domain_id", "range_id"))
    t("lsh: raw candidate pairs", cand)
    spark.sparkContext.setJobDescription("lsh: candidate count")
    t0 = time.monotonic()
    print("  n_raw_cands =", cand.count(), f"({time.monotonic()-t0:.2f}s)")
    ded = cand.dropDuplicates(["domain_id", "range_id"])
    t0 = time.monotonic()
    print("  n_dedup_cands =", ded.count(), f"({time.monotonic()-t0:.2f}s)")
    full = E.pprl_match_lsh(spark, SF)
    t("lsh: full query", full)

if "fpj" in SECTIONS:
    import __spark_entry__ as E
    from pprl_spark.spark.dedup import ngram_jaccard, qgram_tokens
    from pprl_spark.spark.webtext import remove_boilerplate_lines

    docs = load("documents")
    aug_docs = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nSHARED FOOTER "), (F.col("doc_id") % 3).cast("string"),
            F.lit("\nRARE BADGE "), (F.col("doc_id") % 100).cast("string"),
            F.lit("\nCopyright notice"),
        ).alias("text"),
    )
    clean = remove_boilerplate_lines(aug_docs, min_docs=2, min_doc_fraction=0.25)
    t("fpj: boilerplate removal", clean)
    normalized = F.concat_ws(
        " ", F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    )
    fp = docs.select("doc_id", F.md5(normalized).alias("fingerprint"))
    t("fpj: md5 fingerprint", fp)
    toks = docs.select("doc_id", qgram_tokens(F.col("text"), 3).alias("toks"))
    a = toks.select(F.col("doc_id").alias("doc_id"), F.col("toks").alias("toks_a"))
    b = toks.select((F.col("doc_id") - 1).alias("doc_id"), F.col("toks").alias("toks_b"))
    jac = a.join(b, "doc_id").select(
        "doc_id",
        F.round(ngram_jaccard(F.col("toks_a"), F.col("toks_b")), 6).alias("next_jaccard"),
    )
    t("fpj: adjacent jaccard (no checkpoint)", jac)
    t("fpj: full query", E.fingerprint_jaccard(spark, SF))

if "textq" in SECTIONS:
    import __spark_entry__ as E

    t("textq: full query", E.text_quality(spark, SF))
    from pprl_spark.spark.textstats import (
        bpe_ish_token_count,
        punct_ratio,
        quality_score,
        whitespace_token_count,
    )

    docs = load("documents")
    t("textq: ws tokens", docs.select("doc_id", whitespace_token_count(F.col("text")).alias("a")))
    t("textq: bpe tokens", docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("a")))
    t("textq: punct ratio", docs.select("doc_id", punct_ratio(F.col("text")).alias("a")))
    t("textq: quality score", docs.select("doc_id", quality_score(F.col("text")).alias("a")))
    from pprl_spark.spark.pii import pii_redaction

    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted, counts = pii_redaction(aug)
    n_pii = sum(counts.values(), F.lit(0))
    t("textq: pii counts", docs.select("doc_id", n_pii.alias("a")))
    t("textq: redact+md5", docs.select("doc_id", F.md5(redacted).alias("a")))

spark.stop()
