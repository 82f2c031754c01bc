"""Match stage: similarity joins over bit vectors.

Three matchers, mirroring the reference's `/match` methods
(routers/match.py:54-87) plus the scale path:

* ``match_pairwise`` — positional/keyed equi-join (reference ``pairwise``).
* ``match_crosswise`` — full cross join + threshold (reference
  ``crosswise``); the correctness oracle for small inputs.
* ``match_lsh`` — Hamming-LSH banded candidate join + similarity +
  threshold; the 100 TB path.  Candidate generation is an equi-join on
  ``(band, sig)``; AQE skew-join handles hot buckets, and an optional
  ``max_bucket_size`` drops degenerate buckets (classic LSH practice —
  documented recall trade-off, disabled by default).

``match_pairwise``/``match_crosswise`` score with a vectorized Arrow UDF
over packed bytes (popcount LUT), so per-pair work is a few numpy ops, not
per-row Python; ``match_lsh`` scores in Catalyst (see its docstring).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..config import MatchConfig
from ..kernels.similarity import pair_similarity
from .lsh import LSHConfig, add_band_signatures

__all__ = [
    "similarity_udf",
    "match_pairwise",
    "match_crosswise",
    "match_lsh",
    "match_files",
    "top_k_per_record",
]


def similarity_udf(measure: str):
    @F.pandas_udf(DoubleType())
    def _sim(a: pd.Series, b: pd.Series) -> pd.Series:
        if a.empty:
            return pd.Series([], dtype="float64")
        return pd.Series(pair_similarity(measure, a.tolist(), b.tolist()))

    return _sim


def _prefixed(df: DataFrame, id_col: str, bloom_col: str, side: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{side}_id"), F.col(bloom_col).alias(f"__{side}_bloom")
    )


def _score_and_filter(pairs: DataFrame, cfg: MatchConfig) -> DataFrame:
    sim = similarity_udf(cfg.measure)
    return (
        pairs.withColumn("similarity", sim(F.col("__domain_bloom"), F.col("__range_bloom")))
        .filter(F.col("similarity") >= cfg.threshold)
        .select("domain_id", "range_id", "similarity")
    )


def _word_cols(bloom: F.Column, n_bytes: int) -> list:
    """Packed vector → 4-byte big-endian words as longs (JVM popcount
    feed).  4-byte slices keep ``conv(hex(...), 16, 10)`` under 2^32, so
    the long cast can never wrap."""
    return [
        F.conv(F.hex(F.substring(bloom, i + 1, min(4, n_bytes - i))), 16, 10).cast(
            "long"
        )
        for i in range(0, n_bytes, 4)
    ]


def _similarity_expr(measure: str, pc_a, pc_b, n12) -> F.Column:
    """Pure-JVM similarity over precomputed popcounts — double-for-double
    identical to kernels.similarity (same IEEE ops on exact integer
    inputs, same all-zero-pair → 0.0 guard)."""
    n1, n2, n12 = (c.cast("double") for c in (pc_a, pc_b, n12))
    if measure == "dice":
        num, den = F.lit(2.0) * n12, n1 + n2
    elif measure == "cosine":
        num, den = n12, F.sqrt(n1 * n2)
    elif measure == "jaccard":
        num, den = n12, n1 + n2 - n12
    else:
        raise ValueError(f"unimplemented similarity measure `{measure}`")
    return F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)


def _with_position(df: DataFrame, pos_col: str) -> DataFrame:
    """Attach a 0-based global row index in the DataFrame's current order
    (``zipWithIndex`` — contiguous across partitions, unlike
    ``monotonically_increasing_id``).  Costs one extra pass to count
    partition sizes; only the positional-alignment path pays it."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField(pos_col, LongType(), False)])
    rdd = df.rdd.zipWithIndex().map(lambda t: (*t[0], t[1]))
    return df.sparkSession.createDataFrame(rdd, schema)


def match_pairwise(
    df_domain: DataFrame,
    df_range: DataFrame,
    cfg: MatchConfig,
    on: str = "id",
    bloom_col: str = "bloom",
    check_lengths: bool = False,
    align: str = "key",
) -> DataFrame:
    """Aligned pairs (reference ``pairwise``: zip two equal-length lists,
    routers/match.py:68-87).

    * ``align="key"`` — equi-join on ``on``: the distributed-native mode
      (a shuffled table has no inherent list order; key alignment is the
      semantics a Spark user wants).
    * ``align="position"`` — exact reference parity: rows pair by their
      position in the input order (``zipWithIndex``), reproducing the
      reference's list-zip even when ids differ between sides.  Lengths
      are always checked in this mode (the reference guard,
      match.py:69-74, with its error message).
    """
    if align not in ("key", "position"):
        raise ValueError(f"unknown align mode `{align}`")
    if check_lengths or align == "position":
        n_dom, n_rng = df_domain.count(), df_range.count()
        if n_dom != n_rng:
            raise ValueError(
                f"length of domain and range lists do not match: domain has length of "
                f"{n_dom}, range has length of {n_rng}"
            )
    if align == "position":
        dom = _with_position(
            df_domain.select(F.col(on).alias("domain_id"), F.col(bloom_col).alias("__domain_bloom")),
            "__pos",
        )
        rng = _with_position(
            df_range.select(F.col(on).alias("range_id"), F.col(bloom_col).alias("__range_bloom")),
            "__pos",
        )
        pairs = dom.join(rng, "__pos", "inner")
    else:
        pairs = _prefixed(df_domain, on, bloom_col, "domain").join(
            _prefixed(df_range, on, bloom_col, "range"),
            F.col("domain_id") == F.col("range_id"),
            "inner",
        )
    return _score_and_filter(pairs, cfg)


def match_crosswise(
    df_domain: DataFrame,
    df_range: DataFrame,
    cfg: MatchConfig,
    id_col: str = "id",
    bloom_col: str = "bloom",
    broadcast_range: bool = False,
) -> DataFrame:
    """Full cross product + threshold (reference crosswise).  O(|D|·|R|) —
    the small-input oracle the LSH matcher is validated against.  Set
    ``broadcast_range`` when the range side fits in executor memory."""
    rng_side = _prefixed(df_range, id_col, bloom_col, "range")
    if broadcast_range:
        rng_side = F.broadcast(rng_side)
    pairs = _prefixed(df_domain, id_col, bloom_col, "domain").crossJoin(rng_side)
    return _score_and_filter(pairs, cfg)


def match_lsh(
    df_domain: DataFrame,
    df_range: DataFrame | None,
    cfg: MatchConfig,
    lsh: LSHConfig,
    id_col: str = "id",
    bloom_col: str = "bloom",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH-blocked match.  ``df_range=None`` → self-dedup mode (emit each
    unordered pair once, ``domain_id < range_id``).

    Plan shape: band-explode (narrow) → equi-join on (band, sig) over SLIM
    (id, band, sig) rows → join per-id popcount words back → similarity +
    threshold → pair dedup on the surviving matches.  Candidates usually
    outnumber the corpus by orders of magnitude, so the candidate shuffles
    carry 16-byte id pairs, not 2×m-bit vectors.

    Similarity is evaluated in pure Catalyst: each vector is decomposed
    ONCE per id into 4-byte words + a popcount, candidates attach the
    words by id, and the per-pair score is Σ bit_count(wa & wb) folded
    into the measure formula (double-identical to the kernel, see
    :func:`_similarity_expr`).  Shipping both packed vectors of every
    candidate through an Arrow UDF instead costs ~2×128 B × candidate
    count across the Python boundary (23 GB at sf1.0, r6 measured), and
    scoring in the join stage lets the pair dedup run on the thresholded
    matches rather than on every candidate.  Vectors must be exactly
    ceil(lsh.num_bits/8) bytes (runtime-checked, loud error).
    """
    # The id-keyed repartition is load-bearing twice over: (1) it puts a
    # stage boundary between the caller's encode UDF and the band UDF —
    # two Arrow UDFs chained in ONE stage run two Python workers per core
    # and oversubscribe the box (measured 6x slowdown at local[32]); (2)
    # the Exchange output is reused (ReusedExchange) by both the banding
    # branch and the final vector join, so the encode UDF runs once.
    # explicit partition count: encoded vectors are tiny relative to the
    # candidate work they seed, so AQE's size-based coalescing would fold
    # this exchange into one partition and serialize the band stage
    n_parts = max(df_domain.sparkSession.sparkContext.defaultParallelism * 2, 8)
    # null-id rows can never pair, so they are dropped before banding:
    # left in, they would count toward max_bucket_size
    dom_vec = _prefixed(df_domain, id_col, bloom_col, "domain").filter(
        F.col("domain_id").isNotNull()
    ).repartition(n_parts, "domain_id")
    # localCheckpoint the slim (id, vector) projection: the banding
    # branch, the bucket-size aggregate, and the popcount word table all
    # re-read it.  Exchange reuse USED to make that one encode
    # evaluation, but constraint-inferred isnotnull filters below
    # the exchange de-canonicalize the subtrees — r6 plans showed the
    # encode UDF running 3x.  Materializing the KB/row projection once is
    # robust where ReusedExchange is fragile.  eager=False does not defer
    # it to the first action: under AQE, checkpointing a plan runs every
    # exchange below it, so the repartition's shuffle (and the encode
    # feeding it) runs when match_lsh is called — building the
    # pprl_match_lsh query starts 2 Spark jobs beyond the parquet read
    # (sf0.1, local[4]).
    dom_vec = dom_vec.localCheckpoint(eager=False)
    dom = add_band_signatures(
        dom_vec.select("domain_id", F.col("__domain_bloom").alias("__b")),
        lsh,
        "__b",
    ).select("domain_id", "band", "sig")
    if df_range is None:
        rng_side = dom.select(
            F.col("domain_id").alias("range_id"), "band", "sig"
        )
        pair_filter = F.col("domain_id") < F.col("range_id")
    else:
        rng_vec = _prefixed(df_range, id_col, bloom_col, "range").filter(
            F.col("range_id").isNotNull()
        ).repartition(n_parts, "range_id").localCheckpoint(
            eager=False
        )  # same single-encode story as dom_vec
        rng_side = add_band_signatures(
            rng_vec.select("range_id", F.col("__range_bloom").alias("__b")),
            lsh,
            "__b",
        ).select("range_id", "band", "sig")
        pair_filter = F.lit(True)

    if max_bucket_size is not None:
        # groupBy-count + inner join on the surviving (band, sig) keys —
        # a hash aggregate with map-side combine.  The former window
        # count (count().over(partitionBy(band, sig))) forced an
        # Exchange+Sort over ALL banded rows (VERDICT r2 #1); this shape
        # (same as minhash's cap, dedup.py) sorts nothing.  Each side is
        # capped by its own per-side bucket size, as before; in self-dedup
        # mode one aggregate serves both sides.
        def _ok_keys(side):
            return (
                side.groupBy("band", "sig")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") <= max_bucket_size)
                .drop("__n")
            )

        ok_dom = _ok_keys(dom)
        ok_rng = ok_dom if df_range is None else _ok_keys(rng_side)
        dom = dom.join(ok_dom, on=["band", "sig"], how="inner")
        rng_side = rng_side.join(ok_rng, on=["band", "sig"], how="inner")

    cand = dom.join(rng_side, on=["band", "sig"], how="inner").filter(pair_filter)

    # JVM scoring: decompose each id's vector once into a words array +
    # popcount (a 3-col, popcount-only projection of the corpus —
    # broadcast to the candidate join), score every candidate emission
    # in-stage, and dedup only the matches above threshold.  Candidate
    # multiplicity is bounded by num_bands (and in practice near 1 for
    # non-identical pairs), so scoring before dedup trades a tiny amount
    # of repeated arithmetic for not shuffling the full candidate set.
    # The words ride in ONE array<long> column per side, not ~30 flat
    # columns: a flat-column variant sent the optimizer's constraint
    # propagation (getAllValidConstraints alias substitution over the
    # join equivalences) into a minutes-long planning stall (r6 thread
    # dump); with 2 attributes per side planning is instant.
    n_bytes = (lsh.num_bits + 7) // 8

    def _word_table(vec_side: DataFrame, side: str) -> DataFrame:
        bloom = F.col(f"__{side}_bloom")
        checked = F.when(
            F.length(bloom) != n_bytes,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"match_lsh expects {n_bytes}-byte vectors "
                        "(= ceil(lsh.num_bits/8)); got "
                    ),
                    F.length(bloom).cast("string"),
                    F.lit(
                        " bytes — set lsh.num_bits to the vector's bit length"
                    ),
                )
            ),
        ).otherwise(bloom)
        all_words = _word_cols(checked, n_bytes)
        half = (len(all_words) + 1) // 2
        # two half-vector word arrays per side: the scoring filter tests
        # a prefix-only upper bound first (see below), so the suffix HOF
        # only runs for rows that might clear the threshold
        wa, wb = F.array(*all_words[:half]), F.array(*all_words[half:])
        popcount = lambda arr: F.aggregate(  # noqa: E731
            arr, F.lit(0).cast("long"), lambda acc, w: acc + F.bit_count(w)
        )
        return vec_side.select(
            f"{side}_id",
            (popcount(wa) + popcount(wb)).alias(f"__{side}_pc"),
            popcount(wb).alias(f"__{side}_pcb"),
            wa.alias(f"__{side}_wa"),
            wb.alias(f"__{side}_wb"),
        )

    # localCheckpoint is load-bearing, not a cache: it truncates the
    # lineage at this KB-scale table so (1) the encode pipeline is
    # guaranteed to evaluate once for the scoring branch and (2) the
    # constraint machinery below the similarity filter sees a leaf.
    # Its plan reads the dom_vec checkpoint and has no exchange, so
    # eager=False holds here: it computes in the query's first job.
    dom_words = _word_table(dom_vec, "domain").localCheckpoint(eager=False)
    rng_words = (
        dom_words.select(
            F.col("domain_id").alias("range_id"),
            F.col("__domain_pc").alias("__range_pc"),
            F.col("__domain_pcb").alias("__range_pcb"),
            F.col("__domain_wa").alias("__range_wa"),
            F.col("__domain_wb").alias("__range_wb"),
        )
        if df_range is None
        else _word_table(rng_vec, "range")
    )

    # zip_with + aggregate over ARRAY attributes.  Two rejected
    # alternatives, both re-measured at sf1.0 (r6): ~30 flat word columns
    # hang the optimizer (constraint propagation is exponential in
    # equivalence-linked attributes), and a flat sum of 2×32 element_at
    # calls ran ~7x SLOWER end to end (170 s vs 23 s) than this HOF form.
    def _inter(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    n12a = _inter("__domain_wa", "__range_wa")
    n12 = n12a + _inter("__domain_wb", "__range_wb")
    # prefix early-exit: n12 <= n12a + min(suffix popcounts), and every
    # measure is monotone in n12, so a pair whose UPPER-BOUND similarity
    # misses the threshold is rejected after evaluating only the prefix
    # HOF — at the flagship's operating point that is ~all background
    # candidates (bound ~0.73 vs threshold 0.85), roughly halving the
    # per-candidate scoring work.  The bound filter sits LEFT of the
    # exact filter so codegen short-circuits the suffix evaluation.
    n12_upper = n12a + F.least(F.col("__domain_pcb"), F.col("__range_pcb"))
    sim_upper = _similarity_expr(
        cfg.measure, F.col("__domain_pc"), F.col("__range_pc"), n12_upper
    )
    sim = _similarity_expr(
        cfg.measure, F.col("__domain_pc"), F.col("__range_pc"), n12
    )
    return (
        cand.join(F.broadcast(dom_words), "domain_id")
        .join(F.broadcast(rng_words), "range_id")
        .filter(sim_upper >= cfg.threshold)
        .withColumn("similarity", sim)
        .filter(F.col("similarity") >= cfg.threshold)
        .select("domain_id", "range_id", "similarity")
        .dropDuplicates(["domain_id", "range_id"])
    )


def match_files(
    files: "dict[str, DataFrame]",
    cfg: MatchConfig,
    lsh: "LSHConfig | None" = None,
    id_col: str = "id",
    bloom_col: str = "bloom",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Multi-file matching: every unordered file pair (i<j) is matched
    crosswise, and the output carries which file each side came from —
    the reference CLI's multi-file orchestration
    (packages/pprl_client/pprl_client/cli.py:209-245: ``for (file1, file2)
    in itertools.combinations(files, 2)`` with batched crosswise
    products).  Here each pair is one distributed match: crosswise when
    ``lsh`` is None (exact reference semantics), LSH-blocked otherwise
    (the scale path; identical output above the blocking recall).

    Output columns: ``domain_id, domain_file, range_id, range_file,
    similarity`` — the reference's match-sink layout (cli.py:202-245).

    File pairs follow the caller's dict insertion order (the reference CLI
    pairs files in command-line order, cli.py:209-213 — sorting here would
    swap domain/range sides for non-alphabetical input, ADVICE r2).  When
    ``cfg.method == "pairwise"``, each file pair zips positionally
    (``match_pairwise(align="position")``) per the reference's pairwise
    batching (cli.py:219-223); equal lengths are enforced per pair.
    """
    names = list(files)
    if len(names) < 2:
        raise ValueError("multi-file matching requires at least two files")
    if cfg.method == "pairwise" and lsh is not None:
        # mirror the CLI guard here for direct API callers: the pairwise
        # branch would otherwise silently discard the LSH blocking
        # (ADVICE r3)
        raise ValueError(
            "cfg.method='pairwise' zips records positionally and cannot be "
            "combined with LSH blocking; pass lsh=None or use a "
            "similarity-threshold method"
        )
    out: DataFrame | None = None
    for i, name_a in enumerate(names):
        for name_b in names[i + 1:]:
            if cfg.method == "pairwise":
                part = match_pairwise(
                    files[name_a], files[name_b], cfg,
                    on=id_col, bloom_col=bloom_col, align="position",
                )
            elif lsh is None:
                part = match_crosswise(
                    files[name_a], files[name_b], cfg, id_col=id_col, bloom_col=bloom_col
                )
            else:
                part = match_lsh(
                    files[name_a], files[name_b], cfg, lsh,
                    id_col=id_col, bloom_col=bloom_col,
                    max_bucket_size=max_bucket_size,
                )
            part = part.select(
                "domain_id",
                F.lit(name_a).alias("domain_file"),
                "range_id",
                F.lit(name_b).alias("range_file"),
                "similarity",
            )
            out = part if out is None else out.unionByName(part)
    return out


def top_k_per_record(matches: DataFrame, k: int) -> DataFrame:
    """Optional top-k-per-domain-record extension (SURVEY.md §2.8): window
    rank over similarity within each domain_id."""
    w = Window.partitionBy("domain_id").orderBy(F.col("similarity").desc(), F.col("range_id"))
    return (
        matches.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
