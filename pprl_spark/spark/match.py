"""Match stage: similarity joins over bit vectors.

Three matchers, mirroring the reference's `/match` methods
(routers/match.py:54-87) plus the scale path:

* ``match_pairwise`` — positional/keyed equi-join (reference ``pairwise``).
* ``match_crosswise`` — full cross join + threshold (reference
  ``crosswise``); the correctness oracle for small inputs.
* ``match_lsh`` — Hamming-LSH blocking + similarity + threshold; the
  100 TB path.  Banded rows are bucketed by ``(band, sig)`` with one hash
  exchange, and one sorted ``mapInArrow`` pass scores each bucket's pairs;
  an optional ``max_bucket_size`` drops degenerate buckets (classic LSH
  practice — documented recall trade-off, disabled by default).

``match_pairwise``/``match_crosswise`` score with a vectorized Arrow UDF
over packed bytes (popcount LUT), evaluated once per pair, so per-pair
work is a few numpy ops, not per-row Python.  ``match_lsh`` scores inside
its bucket walk, so candidate pairs never become rows; only pairs above
the threshold leave it.  All three compute the score with the same
kernel formulas (``kernels.similarity``), double for double.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from ..config import MatchConfig
from ..kernels.bits import popcount_bytes
from ..kernels.similarity import pair_similarity, similarity_from_counts
from .lsh import LSHConfig, add_band_signatures, tag_sides, walk_buckets

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
    # plan constraint, not semantics (same move as dedup's _keys_udf): the
    # score is a pure function of the two vectors, but a deterministic UDF
    # lets the optimizer push the threshold filter below the projection,
    # which evaluates the UDF twice per pair — two ArrowEvalPython nodes in
    # one stage and so two Python workers per task.  The price: a caller's
    # filter on the output (e.g. domain_id < range_id) stays above the
    # scoring; a filter on an input frame still reaches its scan.
    sim = similarity_udf(cfg.measure).asNondeterministic()
    return (
        pairs.withColumn("similarity", sim(F.col("__domain_bloom"), F.col("__range_bloom")))
        .filter(F.col("similarity") >= cfg.threshold)
        .select("domain_id", "range_id", "similarity")
    )


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


def _block_scorer(measure: str, threshold: float, n_bytes: int, ids: list):
    """:func:`~.lsh.bucket_walk` ``emit`` step: score each pair block with
    a byte-wise AND and the LUT popcount (:func:`similarity_from_counts`)
    and emit the pairs at or above ``threshold``."""

    def score(batch: pa.RecordBatch, blocks):
        fixed = batch.column("__v").cast(pa.binary(n_bytes))
        vec = np.frombuffer(fixed.buffers()[1], np.uint8, len(fixed) * n_bytes, fixed.offset * n_bytes)
        vec = vec.reshape(-1, n_bytes)
        ones = popcount_bytes(vec)
        a, b = batch.column(ids[0]), batch.column(ids[-1])
        for ii, jj in blocks:
            n12 = popcount_bytes(vec[ii] & vec[jj])
            sim = similarity_from_counts(measure, ones[ii], ones[jj], n12)
            hit = sim >= threshold
            if hit.any():
                yield pa.RecordBatch.from_arrays(
                    [a.take(ii[hit]), b.take(jj[hit]), pa.array(sim[hit])],
                    names=["domain_id", "range_id", "similarity"],
                )

    return score


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
    unordered pair of distinct ids once, ``domain_id < range_id``).

    Plan shape: drop null-id rows, tag and union the sides → band-explode
    to (band, sig) rows carrying id and packed vector (a null vector gets
    none) → :func:`~.lsh.walk_buckets`: ONE ``(band, sig)`` exchange, a
    sort within partitions and one ``mapInArrow`` walk whose pair blocks
    :func:`_block_scorer` scores → pair dedup across bands.  When the band
    signatures come from the Arrow UDF (``not lsh.jvm_bands``), an id
    exchange precedes the banding.

    Every banded row crosses the Arrow boundary once; candidate pairs are
    never rows, and only the pairs that clear the threshold leave the
    Python worker (each score is the kernel's double).  ``max_bucket_size``
    drops a bucket when either side holds more rows than the cap (classic
    LSH hot-key guard, a documented recall trade-off, off by default); a
    hot bucket under no cap is scored in blocks but stays in one task.
    Vectors must be exactly ceil(lsh.num_bits/8) bytes (runtime-checked,
    loud error).
    """
    n_bytes = (lsh.num_bits + 7) // 8
    sides = [df_domain] if df_range is None else [df_domain, df_range]
    names = ["domain_id", "range_id"][: len(sides)]
    # null vectors get no band rows.  A filter on the vector itself would
    # be pushed below the caller's exchange as a second evaluation of its
    # encode UDF.
    rows = tag_sides(sides, id_col, names, F.col(bloom_col).alias("__v"))
    if not lsh.jvm_bands:
        # the band step is an Arrow UDF: an id exchange keeps it out of the
        # stage of the caller's encode UDF (two Arrow UDFs chained in one
        # stage run two Python workers per core; measured 6x slower at
        # local[32]).  Explicit count: AQE would fold these small rows
        # into one partition and serialize the band UDF.
        n_parts = max(2 * df_domain.sparkSession.sparkContext.defaultParallelism, 8)
        rows = rows.repartition(n_parts, *names)
    v = F.col("__v")
    checked = F.when(
        F.length(v) != n_bytes,
        F.raise_error(
            F.concat(
                F.lit(f"match_lsh expects {n_bytes}-byte vectors (= ceil(lsh.num_bits/8)); got "),
                F.length(v).cast("string"),
                F.lit(" bytes — set lsh.num_bits to the vector's bit length"),
            )
        ),
    ).otherwise(v)
    banded = add_band_signatures(rows.withColumn("__v", checked), lsh, "__v")
    scorer = _block_scorer(cfg.measure, cfg.threshold, n_bytes, names)
    pair = ["domain_id", "range_id"]
    return walk_buckets(banded, "sig", names, max_bucket_size, scorer, pair,
                        StructField("similarity", DoubleType())).dropDuplicates(pair)


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
