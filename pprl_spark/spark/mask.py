"""Mask stage: records → Bloom bit vectors as one narrow Arrow-UDF projection.

Spark shape (SURVEY.md §3.1): the whole encode is a single
``withColumn("bloom", udf(id, attr…))`` — no shuffle, partition-parallel,
Arrow batch boundaries replacing the reference's HTTP batch boundaries
(client batching at cli.py:103-104).  The UDF is deterministic: all
randomness is seeded from the broadcast config, so speculative/retried
tasks produce bit-identical output.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from ..config import MaskConfig
from ..io.entities import wire_base64
from ..kernels.encode import BloomEncoder

__all__ = ["mask", "mask_b64"]


def _needed_columns(cfg: MaskConfig, attributes: list[str]) -> list[str]:
    """Encoded attributes plus any salt-source attributes."""
    cols = list(attributes)
    for a in cfg.attributes:
        if a.salt is not None and a.salt.attribute is not None and a.salt.attribute not in cols:
            cols.append(a.salt.attribute)
    return cols


def mask(
    df: DataFrame,
    cfg: MaskConfig,
    attributes: list[str],
    id_col: str = "id",
    output_col: str = "bloom",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """``df[id, attrs…] → df[id, bloom BINARY]`` (packed MSB-first bytes).
    ``keep_cols`` ride through the otherwise-narrow projection (e.g. a
    stream's PII counts).

    Parity: the reference's `/mask` endpoint (routers/mask.py:385-410) —
    CLK/CLKRBF/RBF encode + hardener chain; output bytes equal
    ``bitarray.tobytes()`` of the reference vector, so ``base64(bloom)``
    equals the reference's wire value.

    Workers: the encode is one Arrow-UDF node, so one Python worker per
    task.  A ``df`` whose attributes come from another Python UDF in the
    same stage (e.g. ``mask(transform(df), ...)``) runs two workers per
    task; a ``get_spark`` session frees the extra ones when the stage
    ends (``spark.python.factory.idleWorkerMaxPoolSize`` = task slots).
    A Pipeline stage boundary between transform and mask avoids the
    second worker altogether, as ``jobs/pprl_job.py`` does.
    """
    cols = _needed_columns(cfg, attributes)
    # encoder is constructed per executor (lazily inside the UDF) from the
    # closure-captured config — cheap, and keeps the token memo per worker
    encoder_holder: list[BloomEncoder] = []

    @F.pandas_udf(BinaryType())
    def _encode(ids: pd.Series, *attr_series: pd.Series) -> pd.Series:
        if not encoder_holder:
            encoder_holder.append(BloomEncoder(cfg, attributes))
        encoder = encoder_holder[0]
        columns = {name: series.tolist() for name, series in zip(cols, attr_series)}
        return pd.Series(encoder.encode_batch(ids.tolist(), columns))

    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        _encode(F.col(id_col), *[F.col(c) for c in cols]).alias(output_col),
    )


def mask_with_bands(
    df: DataFrame,
    cfg: MaskConfig,
    lsh_cfg,
    attributes: list[str],
    id_col: str = "id",
) -> DataFrame:
    """``df[id, attrs…] → df[id, bloom BINARY, bands ARRAY<LONG>]``.

    Encode and LSH band signatures in ONE Arrow UDF pass — one Python
    round-trip per record instead of two chained UDF stages (chaining runs
    two worker pools per core and measurably oversubscribes; computing
    signatures at encode time also matches the store-once LSH design:
    signatures persist next to the vector in the encode checkpoint).
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from .lsh import band_signer

    cols = _needed_columns(cfg, attributes)
    sign = band_signer(lsh_cfg)
    encoder_holder: list[BloomEncoder] = []

    out_type = StructType(
        [
            StructField("bloom", BinaryType()),
            StructField("bands", ArrayType(LongType())),
        ]
    )

    @F.pandas_udf(out_type)
    def _encode_band(ids: pd.Series, *attr_series: pd.Series) -> pd.DataFrame:
        if not encoder_holder:
            encoder_holder.append(BloomEncoder(cfg, attributes))
        encoder = encoder_holder[0]
        columns = {name: series.tolist() for name, series in zip(cols, attr_series)}
        blooms = encoder.encode_batch(ids.tolist(), columns)
        return pd.DataFrame({"bloom": blooms, "bands": list(sign(blooms))})

    packed = df.select(
        F.col(id_col),
        _encode_band(F.col(id_col), *[F.col(c) for c in cols]).alias("__eb"),
    )
    return packed.select(
        F.col(id_col), F.col("__eb.bloom").alias("bloom"), F.col("__eb.bands").alias("bands")
    )


def mask_b64(
    df: DataFrame,
    cfg: MaskConfig,
    attributes: list[str],
    id_col: str = "id",
    output_col: str = "value",
) -> DataFrame:
    """Like :func:`mask` but with the reference's base64 wire encoding —
    the CSV mask sink shape (cli.py:60-93: columns ``id, value``)."""
    masked = mask(df, cfg, attributes, id_col=id_col, output_col="__bloom__")
    return masked.select(F.col(id_col), wire_base64("__bloom__").alias(output_col))
