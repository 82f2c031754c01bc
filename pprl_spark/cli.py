"""Command-line interface mirroring the reference client's command surface.

The reference ships ``pprl transform/mask/match/estimate`` (pprl_client
cli.py:96-563) — JSON request configs in, CSV entity/vector files in,
CSV out, with the HTTP service doing the work in batches.  Here the same
commands run the distributed engine directly:

    python -m pprl_spark transform CONFIG.json ENTITIES.csv OUT.csv
    python -m pprl_spark mask      CONFIG.json ENTITIES.csv OUT.csv
    python -m pprl_spark match     CONFIG.json VEC.csv [VEC.csv ...] OUT.csv
    python -m pprl_spark estimate  ENTITIES.csv OUT.json -a attr [-a attr ...]

Config files are the reference's own JSON wire shapes (config_json.py);
a reference user's existing request files work unmodified.  ``match``
with ≥2 vector files reproduces the reference's multi-file all-pairs
crosswise semantics (cli.py:209-245) including the ``domain_file`` /
``range_file`` output columns; ``--lsh`` switches candidate generation
to Hamming-LSH blocking for large inputs.  ``estimate`` computes weighted
attribute configs from data (the reference's generator-driven estimate
flow is available programmatically via ``spark.stats.estimate_weights``).
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import tempfile

__all__ = ["main"]


def _write_single_csv(df, path: str) -> None:
    """Reference CLI writes one CSV file, not a directory: coalesce to a
    single part and move it to the target path.  (Driver-side file move
    only — fine for CLI-sized outputs; use DataFrame sinks for bulk.)"""
    tmp = tempfile.mkdtemp(prefix="pprl_csv_")
    try:
        df.coalesce(1).write.mode("overwrite").csv(tmp, header=True)
        part = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))[0]
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _cmd_transform(args, spark) -> None:
    from pyspark.sql import functions as F

    from .config_json import load_json_config
    from .io import read_entity_csv
    from .spark.transform import transform

    cfg = load_json_config(args.config, "transform")
    df = read_entity_csv(spark, args.entities, id_column=args.id_column)
    attrs = [c for c in df.columns if c != "id"]
    out = transform(df, cfg, attrs)
    _write_single_csv(out.select(F.col("id"), *attrs), args.output)


def _cmd_mask(args, spark) -> None:
    from .config_json import load_json_config
    from .io import read_entity_csv
    from .spark.mask import mask_b64

    cfg = load_json_config(args.config, "mask")
    df = read_entity_csv(spark, args.entities, id_column=args.id_column)
    attrs = [c for c in df.columns if c != "id"]
    _write_single_csv(mask_b64(df, cfg, attrs), args.output)


def _parse_lsh(spec: str):
    from .spark.lsh import LSHConfig

    num_bits, bands, width = (int(x) for x in spec.split(","))
    scheme = "chunked" if width % 8 == 0 and bands * width <= num_bits else "sampled"
    return LSHConfig(num_bits=num_bits, num_bands=bands, band_width=width, scheme=scheme)


def _cmd_match(args, spark) -> None:
    from pyspark.sql import functions as F

    from .config_json import load_json_config
    from .io import read_bit_vector_csv
    from .spark.match import match_crosswise, match_files, match_lsh

    cfg = load_json_config(args.config, "match")
    lsh = _parse_lsh(args.lsh) if args.lsh else None
    # label files by basename for readable output columns, but fall back to
    # the full path when basenames collide (two parties exporting the same
    # filename must not silently collapse into one input)
    basenames = [os.path.basename(p) for p in args.vectors]
    use_full = len(set(basenames)) != len(basenames)
    files = {
        (p if use_full else os.path.basename(p)): read_bit_vector_csv(spark, p)
        for p in args.vectors
    }
    if len(files) != len(args.vectors):
        raise ValueError("duplicate vector file paths given to match")
    if cfg.method == "pairwise":
        # reference pairwise: ≥2 files, rows zipped by file position
        # (cli.py:182-184, 219-223); blocking doesn't apply to a zip
        if len(files) < 2:
            raise ValueError("pairwise matching requires at least two vector files")
        if lsh is not None:
            raise ValueError("--lsh does not apply to pairwise matching")
        _write_single_csv(match_files(files, cfg), args.output)
        return
    if len(files) == 1:
        # single file → self-match, reference's one-file crosswise product
        (name, df), = files.items()
        if lsh is None:
            out = match_crosswise(df, df, cfg).filter(
                F.col("domain_id") < F.col("range_id")
            )
        else:
            out = match_lsh(df, None, cfg, lsh)
        out = out.select(
            "domain_id",
            F.lit(name).alias("domain_file"),
            "range_id",
            F.lit(name).alias("range_file"),
            "similarity",
        )
    else:
        out = match_files(files, cfg, lsh=lsh)
    _write_single_csv(out, args.output)


def _cmd_estimate(args, spark) -> None:
    import json

    from .config_json import weighted_attributes_to_json
    from .spark.stats import compute_attribute_stats

    if args.entities in ("gecko", "faker"):
        # reference generator-driven flow: `estimate gecko|faker CONFIG OUT`
        # (pprl_client cli.py:428-563) — the config file is the reference's
        # own GeckoGeneratorConfig/FakerGeneratorConfig JSON shape
        from .generator_configs import generators_from_config
        from .spark.stats import estimate_weights

        if args.generator_output is None:
            raise ValueError(
                f"usage: estimate {args.entities} GENERATOR_CONFIG.json OUTPUT.json"
            )
        config_path, output = args.output, args.generator_output
        with open(config_path) as fh:
            count, generators = generators_from_config(json.load(fh), args.entities)
        transform_cfg = None
        if args.base_transform_request_file_path:
            from .config_json import load_json_config

            transform_cfg = load_json_config(
                args.base_transform_request_file_path, "transform"
            )
        stats = estimate_weights(
            spark, generators, count,
            q=args.token_size, padding=args.padding, transform_cfg=transform_cfg,
        )
    else:
        from .io import read_entity_csv

        if args.generator_output is not None:
            raise ValueError("unexpected extra argument for CSV-driven estimate")
        output = args.output
        df = read_entity_csv(spark, args.entities, id_column=args.id_column)
        attrs = args.attribute or [c for c in df.columns if c != "id"]
        stats = compute_attribute_stats(df, attrs, q=args.token_size, padding=args.padding)
    with open(output, "w") as fh:
        fh.write(weighted_attributes_to_json(stats, indent=2))


def _cmd_dedup(args, spark) -> None:
    """Beyond-reference: near-dup pairs → connected components →
    canonical-doc CSV (doc_id, canonical_doc_id, is_canonical,
    cluster_size) from a CSV or parquet corpus."""
    from pyspark.sql import functions as F

    from .spark.dedup import jaccard_verify, minhash_lsh_pairs
    from .spark.graph import assign_components

    if args.input.endswith(".parquet") or os.path.isdir(args.input):
        docs = spark.read.parquet(args.input)
    else:
        docs = spark.read.csv(args.input, header=True)
    if args.id_column not in docs.columns or args.text_column not in docs.columns:
        raise ValueError(
            f"input needs `{args.id_column}` and `{args.text_column}` columns "
            f"(found {docs.columns})"
        )
    docs = docs.select(
        F.col(args.id_column).cast("long").alias("doc_id"),
        F.col(args.text_column).alias("text"),
    )
    cands = minhash_lsh_pairs(docs, "doc_id", "text", q=args.token_size,
                              num_hashes=128, bands=16, max_bucket_size=1000)
    pairs = jaccard_verify(cands, docs, "doc_id", "text",
                           q=args.token_size, threshold=args.threshold)
    comp = assign_components(docs, "doc_id", pairs.select("id_a", "id_b"))
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = (
        comp.join(sizes, "component")
        .select(
            "doc_id",
            F.col("component").alias("canonical_doc_id"),
            (F.col("doc_id") == F.col("component")).alias("is_canonical"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )
    _write_single_csv(out, args.output)


def _cmd_quality(args, spark) -> None:
    """Beyond-reference: quality-filter a corpus (token band + heuristic
    quality + language allowlist + Gopher-style repetition signals) →
    per-document decision CSV (doc_id, n_tokens, lang_pred, quality,
    dup_word_fraction, top_bigram_fraction, keep, reject_reason)."""
    from pyspark.sql import functions as F

    from .spark.quality import FilterRules, filter_documents

    if args.input.endswith(".parquet") or os.path.isdir(args.input):
        docs = spark.read.parquet(args.input)
    else:
        docs = spark.read.csv(args.input, header=True)
    if args.id_column not in docs.columns or args.text_column not in docs.columns:
        raise ValueError(
            f"input needs `{args.id_column}` and `{args.text_column}` columns "
            f"(found {docs.columns})"
        )
    docs = docs.select(
        F.col(args.id_column).cast("long").alias("doc_id"),
        F.col(args.text_column).alias("text"),
    )
    rules = FilterRules(
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        min_quality=args.min_quality,
        allowed_langs=tuple(args.lang) if args.lang else (),
        max_dup_word_fraction=args.max_dup_word_fraction,
        max_top_bigram_fraction=args.max_top_bigram_fraction,
        max_dup_line_fraction=args.max_dup_line_fraction,
        max_dup_paragraph_fraction=args.max_dup_paragraph_fraction,
        max_dup_line_char_fraction=args.max_dup_line_char_fraction,
        max_dup_paragraph_char_fraction=args.max_dup_paragraph_char_fraction,
        # --gopher-ngrams switches on the full n-gram family at the
        # published thresholds (Rae et al. 2021 §A1.1)
        max_top_ngram_fraction=(
            ((2, 0.20), (3, 0.18), (4, 0.16)) if args.gopher_ngrams else ()
        ),
        max_dup_ngram_fraction=(
            ((5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10))
            if args.gopher_ngrams
            else ()
        ),
    )
    out = filter_documents(docs, rules).select(
        "doc_id", "n_tokens", "lang_pred",
        F.round("quality", 6).alias("quality"),
        F.round("dup_word_fraction", 6).alias("dup_word_fraction"),
        F.round("top_bigram_fraction", 6).alias("top_bigram_fraction"),
        "keep", "reject_reason",
    )
    if args.keep_only:
        out = out.filter(F.col("keep"))
    _write_single_csv(out.orderBy("doc_id"), args.output)


def _read_docs(args, spark):
    from pyspark.sql import functions as F

    if args.input.endswith(".parquet") or os.path.isdir(args.input):
        docs = spark.read.parquet(args.input)
    else:
        docs = spark.read.csv(args.input, header=True)
    if args.id_column not in docs.columns or args.text_column not in docs.columns:
        raise ValueError(
            f"input needs `{args.id_column}` and `{args.text_column}` columns "
            f"(found {docs.columns})"
        )
    return docs.select(
        F.col(args.id_column).cast("long").alias("doc_id"),
        F.col(args.text_column).alias("text"),
    )


def _cmd_lm_train(args, spark) -> None:
    """Beyond-reference: train a Stupid Backoff n-gram LM (Brants et al.
    2007) on a corpus → gram-counts parquet consumed by `lm-score` and
    the streaming job's --lm-counts stage."""
    from .spark.lm import train_stupid_backoff

    docs = _read_docs(args, spark)
    counts = train_stupid_backoff(docs, order=args.order)
    if args.prune_min_count > 1:
        # CCNet-style pruning: drop rare high-order grams so the model
        # broadcasts; keep the total marker and the unigram floor exact
        counts = counts.filter(
            (counts.n <= 1) | (counts.cnt >= args.prune_min_count)
        )
    counts.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output} (order={args.order})")


def _cmd_lm_score(args, spark) -> None:
    """Beyond-reference: score a corpus's per-document perplexity under
    a trained Stupid Backoff LM → decision CSV (doc_id, n_tokens,
    avg_logprob, perplexity[, keep])."""
    from pyspark.sql import functions as F

    from .spark.lm import perplexity_filter, score_documents

    docs = _read_docs(args, spark)
    counts = spark.read.parquet(args.counts)
    order = counts.agg(F.max("n")).collect()[0][0]
    if args.max_perplexity is not None:
        out = perplexity_filter(
            docs, counts, args.max_perplexity, order=order
        ).select(
            "doc_id", "n_tokens",
            F.round("avg_logprob", 6).alias("avg_logprob"),
            F.round("perplexity", 4).alias("perplexity"),
            "keep",
        )
    else:
        out = score_documents(docs, counts, order=order).select(
            "doc_id", "n_tokens",
            F.round("avg_logprob", 6).alias("avg_logprob"),
            F.round("perplexity", 4).alias("perplexity"),
        )
    _write_single_csv(out.orderBy("doc_id"), args.output)


def _read_table(args, spark):
    """Generic table read (parquet dir/file or headered CSV) keeping all
    columns — for commands that operate on arbitrary key/group columns.
    CSV reads use multiLine (quoted embedded newlines — text corpora need
    them); that makes the CSV unsplittable, which is fine for the CLI's
    small-file path — parquet is the bulk path."""
    if args.input.endswith(".parquet") or os.path.isdir(args.input):
        return spark.read.parquet(args.input)
    return spark.read.csv(args.input, header=True, multiLine=True, escape='"')


def _cmd_sample(args, spark) -> None:
    """Beyond-reference: deterministic content-keyed sampling — either
    exactly k rows per group (stratified) or a hash-rate sample; both
    survive recompute/repartition/retries (no RNG state)."""
    from pyspark.sql import functions as F

    from .spark.sampling import hash_sample, stratified_sample

    df = _read_table(args, spark)
    if args.key_column not in df.columns:
        raise ValueError(
            f"input needs `{args.key_column}` column (found {df.columns})"
        )
    if args.per_group:
        if args.per_group not in df.columns:
            raise ValueError(
                f"input needs `{args.per_group}` column (found {df.columns})"
            )
        if args.mixture_alpha is not None:
            if args.rate is None:
                raise ValueError("--mixture-alpha needs --rate "
                                 "(the overall target fraction)")
            from .spark.sampling import mixture_sample

            out = mixture_sample(
                df, args.per_group, args.key_column,
                alpha=args.mixture_alpha, target_fraction=args.rate,
                salt=args.salt,
            ).orderBy(F.col(args.key_column))
        else:
            out = stratified_sample(
                df, args.per_group, args.key_column, k=args.k, salt=args.salt
            ).orderBy(args.per_group, "sample_rank")
    else:
        if args.rate is None:
            raise ValueError("need --per-group GROUP (with -k) or --rate")
        out = hash_sample(
            df, args.key_column, args.rate, salt=args.salt
        ).orderBy(F.col(args.key_column))
    _write_single_csv(out, args.output)


def _cmd_redact(args, spark) -> None:
    """Beyond-reference: C4/Dolma-style PII scrub (emails, phones, IPv4,
    SSN-shaped ids) → redacted text + per-kind counts."""
    from .spark.pii import redact_pii

    docs = _read_docs(args, spark)
    out = redact_pii(docs, kinds=args.kind or None, fmt=args.token_format)
    _write_single_csv(out.orderBy("doc_id"), args.output)


def _cmd_spans(args, spark) -> None:
    """Beyond-reference: winnowing-fingerprint substring dedup — per-doc
    verbatim-duplication profile (Lee et al. 2022-style signal)."""
    from pyspark.sql import functions as F

    from .spark.substring import duplicate_span_stats

    docs = _read_docs(args, spark)
    out = duplicate_span_stats(
        docs, k=args.k_gram, w=args.window
    ).select(
        "doc_id", "n_fingerprints", "n_shared",
        F.round("dup_fraction", 6).alias("dup_fraction"),
    )
    if args.min_dup_fraction > 0:
        out = out.where(F.col("dup_fraction") >= args.min_dup_fraction)
    _write_single_csv(out.orderBy("doc_id"), args.output)


def _cmd_ingest_warc(args, spark) -> None:
    """Beyond-reference: ingest Common-Crawl-style WARC archives into
    the parquet pages table (url, warc_ts, html[, text])."""
    from pyspark.sql import functions as F

    from .io.warc import read_warc
    from .spark.webtext import extract_text_col

    df = read_warc(spark, args.input)
    if args.extract_text:
        df = df.withColumn("text", extract_text_col(F.col("html")))
    df.write.mode("overwrite").parquet(args.output)
    print(f"wrote {spark.read.parquet(args.output).count()} pages "
          f"to {args.output}")


def _cmd_linkrank(args, spark) -> None:
    """Beyond-reference: host-level PageRank over the pages table's
    outlink graph (site scoring for crawl frontiers / mixture weights)."""
    from pyspark.sql import functions as F

    from .spark.graph import pagerank
    from .spark.webtext import host_graph

    df = _read_table(args, spark)
    for col in (args.url_column, args.html_column):
        if col not in df.columns:
            raise ValueError(f"input needs `{col}` column (found {df.columns})")
    g = host_graph(df, url_col=args.url_column, html_col=args.html_column)
    ranks = pagerank(g, weight="n_links", iterations=args.iterations)
    _write_single_csv(
        ranks.select("node", F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "node"),
        args.output,
    )


def _cmd_boilerplate(args, spark) -> None:
    """Beyond-reference: RefinedWeb/CCNet-style boilerplate line removal
    (lines repeated across ≥ min-docs and ≥ min-doc-fraction of a
    domain's documents are dropped)."""
    from pyspark.sql import functions as F

    from .spark.webtext import remove_boilerplate_lines

    df = _read_table(args, spark)
    for col in (args.id_column, args.text_column):
        if col not in df.columns:
            raise ValueError(f"input needs `{col}` column (found {df.columns})")
    if args.domain_column and args.domain_column not in df.columns:
        raise ValueError(
            f"input needs `{args.domain_column}` column (found {df.columns})"
        )
    docs = df.select(
        F.col(args.id_column).cast("long").alias("doc_id"),
        F.col(args.text_column).alias("text"),
        *([F.col(args.domain_column).alias("domain")]
          if args.domain_column else []),
    )
    out = remove_boilerplate_lines(
        docs,
        domain_col="domain" if args.domain_column else None,
        min_docs=args.min_docs,
        min_doc_fraction=args.min_doc_fraction,
    )
    _write_single_csv(out.orderBy("doc_id"), args.output)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="pprl_spark", description="PySpark-native PPRL engine CLI"
    )
    ap.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("transform", help="apply a transform request to an entity CSV")
    p.add_argument("config")
    p.add_argument("entities")
    p.add_argument("output")
    p.add_argument("--id-column", default="id")
    p.set_defaults(fn=_cmd_transform)

    p = sub.add_parser("mask", help="encode an entity CSV into base64 bit vectors")
    p.add_argument("config")
    p.add_argument("entities")
    p.add_argument("output")
    p.add_argument("--id-column", default="id")
    p.set_defaults(fn=_cmd_mask)

    p = sub.add_parser("match", help="match bit-vector CSVs (1 file = self-match; n files = all pairs)")
    p.add_argument("config")
    p.add_argument("vectors", nargs="+")
    p.add_argument("output")
    p.add_argument("--lsh", default=None, metavar="BITS,BANDS,WIDTH",
                   help="use Hamming-LSH blocking instead of crosswise")
    p.set_defaults(fn=_cmd_match)

    p = sub.add_parser(
        "estimate",
        help="estimate weighted attribute configs from a CSV, or from a "
             "reference gecko/faker generator config "
             "(`estimate gecko CONFIG.json OUT.json`)",
    )
    p.add_argument("entities",
                   help="entities CSV path, or the literal 'gecko'/'faker'")
    p.add_argument("output",
                   help="output JSON path (generator mode: the generator config path)")
    p.add_argument("generator_output", nargs="?", default=None,
                   help="generator mode only: output JSON path")
    p.add_argument("-a", "--attribute", action="append", default=None)
    p.add_argument("-q", "--token-size", type=int, default=2)
    p.add_argument("-p", "--padding", default="_")
    p.add_argument("--base-transform-request-file-path", default=None)
    p.add_argument("--id-column", default="id")
    p.set_defaults(fn=_cmd_estimate)

    p = sub.add_parser(
        "dedup",
        help="near-duplicate clustering (MinHash-LSH + connected components) "
             "→ canonical-doc CSV; beyond the reference surface",
    )
    p.add_argument("input", help="documents parquet path/dir or CSV with header")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("-q", "--token-size", type=int, default=5)
    p.add_argument("-t", "--threshold", type=float, default=0.8)
    p.set_defaults(fn=_cmd_dedup)

    p = sub.add_parser(
        "quality",
        help="quality-filter a corpus (length/quality/lang/repetition rules) "
             "→ per-doc decision CSV; beyond the reference surface",
    )
    p.add_argument("input", help="documents parquet path/dir or CSV with header")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--min-tokens", type=int, default=5)
    p.add_argument("--max-tokens", type=int, default=1_000_000)
    p.add_argument("--min-quality", type=float, default=0.0)
    p.add_argument("--lang", action="append", default=None,
                   help="allowed language (repeatable); omit to allow any")
    p.add_argument("--max-dup-word-fraction", type=float, default=1.0)
    p.add_argument("--max-top-bigram-fraction", type=float, default=1.0)
    p.add_argument("--max-dup-line-fraction", type=float, default=1.0)
    p.add_argument("--max-dup-paragraph-fraction", type=float, default=1.0)
    p.add_argument("--max-dup-line-char-fraction", type=float, default=1.0)
    p.add_argument("--max-dup-paragraph-char-fraction", type=float,
                   default=1.0)
    p.add_argument("--gopher-ngrams", action="store_true",
                   help="enable top-n-gram (n=2-4) and duplicated-n-gram "
                        "(n=5-10) rules at the published Gopher thresholds")
    p.add_argument("--keep-only", action="store_true",
                   help="write only kept documents")
    p.set_defaults(fn=_cmd_quality)

    p = sub.add_parser(
        "lm-train",
        help="train a Stupid Backoff n-gram LM → counts parquet; "
             "beyond the reference surface",
    )
    p.add_argument("input", help="documents parquet path/dir or CSV with header")
    p.add_argument("output", help="counts parquet output dir")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--order", type=int, default=3)
    p.add_argument("--prune-min-count", type=int, default=1,
                   help="drop bigram+ grams seen fewer times (CCNet-style "
                        "pruning for broadcastable models)")
    p.set_defaults(fn=_cmd_lm_train)

    p = sub.add_parser(
        "lm-score",
        help="per-document LM perplexity (optionally keep/reject) "
             "→ CSV; beyond the reference surface",
    )
    p.add_argument("input", help="documents parquet path/dir or CSV with header")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--counts", required=True,
                   help="counts parquet from lm-train")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--max-perplexity", type=float, default=None,
                   help="emit a keep column thresholded at this perplexity")
    p.set_defaults(fn=_cmd_lm_score)

    p = sub.add_parser(
        "sample",
        help="deterministic content-keyed sampling (k per group, or a "
             "hash-rate sample) → CSV; beyond the reference surface",
    )
    p.add_argument("input", help="parquet path/dir or CSV with header")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--key-column", default="doc_id",
                   help="content key the sample is keyed on")
    p.add_argument("--per-group", default=None, metavar="COL",
                   help="stratify: keep exactly k rows per value of COL")
    p.add_argument("-k", type=int, default=100,
                   help="rows per group (with --per-group)")
    p.add_argument("--rate", type=float, default=None,
                   help="hash-sample fraction in [0,1] (without --per-group; "
                        "with --mixture-alpha: the overall target fraction)")
    p.add_argument("--mixture-alpha", type=float, default=None,
                   help="with --per-group and --rate: temperature-rebalance "
                        "groups at count^alpha (waterfilled exact rates) "
                        "instead of taking k per group")
    p.add_argument("--salt", default="",
                   help="salt for an independent resample")
    p.set_defaults(fn=_cmd_sample)

    p = sub.add_parser(
        "redact",
        help="PII scrub (email/phone/IPv4/SSN) → redacted text + counts "
             "CSV; beyond the reference surface",
    )
    p.add_argument("input", help="documents parquet path/dir or CSV with header")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--kind", action="append", default=None,
                   help="PII kind to redact (repeatable); default all")
    p.add_argument("--token-format", default="<{kind}>",
                   help="replacement token, {kind} interpolated")
    p.set_defaults(fn=_cmd_redact)

    p = sub.add_parser(
        "boilerplate",
        help="drop lines repeated across a domain's documents "
             "(nav/cookie-banner boilerplate) → CSV; beyond the "
             "reference surface",
    )
    p.add_argument("input", help="parquet path/dir or CSV with header")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--domain-column", default=None,
                   help="group documents by this column; omit = whole corpus")
    p.add_argument("--min-docs", type=int, default=2,
                   help="line must appear in at least this many documents")
    p.add_argument("--min-doc-fraction", type=float, default=0.05,
                   help="…and in at least this fraction of the group's docs")
    p.set_defaults(fn=_cmd_boilerplate)

    p = sub.add_parser(
        "spans",
        help="winnowing substring-dedup profile (fraction of each doc "
             "verbatim-duplicated elsewhere) → CSV; beyond the "
             "reference surface",
    )
    p.add_argument("input", help="documents parquet path/dir or CSV with header")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--k-gram", type=int, default=25,
                   help="character k-gram size (guarantee = window+k-1)")
    p.add_argument("--window", type=int, default=25,
                   help="winnowing window (hashes per selection window)")
    p.add_argument("--min-dup-fraction", type=float, default=0.0,
                   help="only emit docs at or above this duplication level")
    p.set_defaults(fn=_cmd_spans)

    p = sub.add_parser(
        "linkrank",
        help="host-level PageRank over the pages table's outlink graph "
             "→ CSV; beyond the reference surface",
    )
    p.add_argument("input", help="pages parquet path/dir (url, html)")
    p.add_argument("output", help="output CSV path")
    p.add_argument("--url-column", default="url")
    p.add_argument("--html-column", default="html")
    p.add_argument("--iterations", type=int, default=10)
    p.set_defaults(fn=_cmd_linkrank)

    p = sub.add_parser(
        "ingest-warc",
        help="WARC/WARC.GZ archives → parquet pages table "
             "(url, warc_ts, html[, text]); beyond the reference surface",
    )
    p.add_argument("input", help="file/dir/glob of .warc or .warc.gz")
    p.add_argument("output", help="parquet output dir")
    p.add_argument("--extract-text", action="store_true",
                   help="also materialize the extracted text column")
    p.set_defaults(fn=_cmd_ingest_warc)
    return ap


def main(argv: "list[str] | None" = None) -> None:
    args = build_parser().parse_args(argv)
    from .spark.session import get_spark

    spark = get_spark("pprl-cli", master=args.master)
    args.fn(args, spark)


if __name__ == "__main__":
    main()
