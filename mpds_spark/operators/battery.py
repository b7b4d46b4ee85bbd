"""Spark operators wrapping the feature batteries.

- extract_token_battery: per-row 18-stat vector over the `tokens` array —
  a scalar Arrow UDF projection (the segmented battery reads each batch's
  Arrow list buffers zero-copy, in calls bounded by token count; no
  shuffle at all: a pure projection pipelined onto the scan). Only the
  token column goes to Python and only the features come back, so token
  arrays never leave the JVM and stay byte-identical (the BASELINE.json
  per-row exact-equality invariant); the UDF is deterministic, so
  Catalyst pushes filters on other columns below it.
- extract_accel_battery: per-(entity, ts) 153-feature accel vector over an
  F2-shaped long table — applyInPandas after the one entity range exchange.

Both emit ArrayType(DoubleType) feature vectors + a names manifest
(the reference's positional header contract, extractAccelTestV2.m:49-59).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from mpds_spark.operators.util import pin_group_parallelism

from mpds_spark.functions.battery import (
    TOKEN_STAT_NAMES,
    extract_accel_features,
    token_features_segmented,
)


def token_battery_names() -> list[str]:
    return list(TOKEN_STAT_NAMES)


def token_battery_array(col: pa.Array) -> pa.Array:
    """One Arrow list array through the token battery -> a list<double>
    array of the 18 features per row. The kernel reads the list array's
    flat values + offsets directly (zero-copy, any slice offset); empty
    and null rows give all-NaN features."""
    try:
        flat = col.values.to_numpy(zero_copy_only=True)
    except pa.ArrowInvalid:  # nulls inside the arrays: copying fallback
        flat = col.values.to_numpy(zero_copy_only=False)
    feats = token_features_segmented(flat, col.offsets.to_numpy())
    if col.null_count:  # a null row's offsets may span arbitrary values
        feats[col.is_null().to_numpy(zero_copy_only=False)] = np.nan
    return pa.ListArray.from_arrays(
        pa.array(np.arange(len(feats) + 1, dtype=np.int32) * feats.shape[1]),
        pa.array(feats.ravel()),
    )


def extract_token_battery(
    df: DataFrame,
    tokens_col: str = "tokens",
    out_col: str = "features",
    keep_tokens: bool = True,
) -> DataFrame:
    """Append the per-sequence feature vector; all input columns (including
    the token payload) pass through byte-identical.

    A scalar Arrow UDF (`arrow_udf`, pa.Array -> pa.Array) in a
    projection: each Arrow batch of the token column goes to the
    segmented battery as its list buffers (flat values + offsets,
    zero-copy), and the features come back as one list array. The other
    columns never leave the JVM, and because the UDF is deterministic
    Catalyst can push a filter on them (the flagship's event subset)
    below the Python node. The kernel runs each stat as whole-batch numpy
    passes and splits its calls by token count, so the cost per sequence
    does not depend on how many rows a batch or partition holds (the
    local[1] and local[4] scaling legs stay comparable) and worker memory
    stays flat for long documents.

    keep_tokens=False drops the token column from the output.
    """
    battery = arrow_udf(token_battery_array, ArrayType(DoubleType()))
    out = df.withColumn(out_col, battery(F.col(tokens_col)))
    return out if keep_tokens else out.drop(tokens_col)


def extract_accel_battery(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    t_col: str = "t",
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
    out_col: str = "features",
) -> DataFrame:
    """One row per (entity, ts) recording: the full extractAccelTestV2
    battery (153 doubles, accel_feature_names() order)."""
    key_fields = [df.schema[entity], df.schema[ts]]
    schema = StructType(
        key_fields + [StructField(out_col, ArrayType(DoubleType()))]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        vec = extract_accel_features(
            pdf[t_col].to_numpy(float),
            pdf[x_col].to_numpy(float),
            pdf[y_col].to_numpy(float),
            pdf[z_col].to_numpy(float),
        )
        return pd.DataFrame(
            {
                entity: [pdf[entity].iloc[0]],
                ts: [pdf[ts].iloc[0]],
                out_col: [vec],
            }
        )

    return (
        pin_group_parallelism(df, entity, ts)
        .groupBy(entity, ts)
        .applyInPandas(fn, schema)
    )


def slice_modality(
    df: DataFrame, features: str, start: int, length: int, out_col: str
) -> DataFrame:
    """Positional modality slice (NB cell 14 contract): F.slice is 1-based."""
    return df.withColumn(out_col, F.slice(features, start + 1, length))


def score_dot(
    df: DataFrame, features: str, weights: list[float], out_col: str = "score"
) -> DataFrame:
    """Dot-product scoring (NB cell 14 pairs.dot(weights)) — JVM-side
    zip_with + aggregate over the array column, no Python."""
    w = F.array(*[F.lit(float(v)) for v in weights])
    return df.withColumn(
        out_col,
        F.aggregate(
            F.zip_with(features, w, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def extract_tap_battery(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    t_col: str = "t",
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "features",
) -> DataFrame:
    """One row per (entity, ts) tap recording: extractTapTestV2 battery
    (151 doubles, tap_feature_names() order)."""
    from mpds_spark.functions.battery import extract_tap_features

    schema = StructType(
        [df.schema[entity], df.schema[ts], StructField(out_col, ArrayType(DoubleType()))]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        vec = extract_tap_features(
            pdf[t_col].to_numpy(float),
            pdf[x_col].to_numpy(float),
            pdf[y_col].to_numpy(float),
        )
        return pd.DataFrame(
            {entity: [pdf[entity].iloc[0]], ts: [pdf[ts].iloc[0]], out_col: [vec]}
        )

    return (
        pin_group_parallelism(df, entity, ts)
        .groupBy(entity, ts)
        .applyInPandas(fn, schema)
    )


def extract_react_battery(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    t_col: str = "t",
    visible_col: str = "btn_visible",
    pressed_col: str = "btn_pressed",
    out_col: str = "features",
) -> DataFrame:
    """One row per (entity, ts) reaction recording: extractReactTestV1
    battery (15 doubles, react_feature_names() order)."""
    from mpds_spark.functions.battery import extract_react_features

    schema = StructType(
        [df.schema[entity], df.schema[ts], StructField(out_col, ArrayType(DoubleType()))]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        vec = extract_react_features(
            pdf[t_col].to_numpy(float),
            pdf[visible_col].to_numpy(),
            pdf[pressed_col].to_numpy(),
        )
        return pd.DataFrame(
            {entity: [pdf[entity].iloc[0]], ts: [pdf[ts].iloc[0]], out_col: [vec]}
        )

    return (
        pin_group_parallelism(df, entity, ts)
        .groupBy(entity, ts)
        .applyInPandas(fn, schema)
    )


def extract_audio_battery(
    df: DataFrame,
    sample_col: str = "sample",
    fs_col: str = "fs",
    out_col: str = "features",
) -> DataFrame:
    """Audio recordings arrive one per row (sample: array<double>, fs:int) —
    a pure map stage (mapInPandas), no shuffle."""
    from mpds_spark.functions.battery import extract_audio_features

    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(DoubleType()))]
    )
    cols = [f.name for f in df.schema.fields]

    def gen(batches):
        for pdf in batches:
            feats = [
                extract_audio_features(np.asarray(s, dtype=float), float(fs))
                for s, fs in zip(pdf[sample_col], pdf[fs_col])
            ]
            out = pdf[cols].copy()
            out[out_col] = feats
            yield out

    return df.mapInPandas(gen, schema)


def score_dot_sliced(
    df: DataFrame,
    features: str,
    weights: list[float],
    n_slices: int,
    key: str,
    out_col: str = "score",
) -> DataFrame:
    """Sliced-model scoring (dssFunctionLibrary.R:1946-2010 parity:
    dss.Aux.SliceGBRT + dss.Aux.CollectSlices): the weight vector is split
    into n_slices shards, each shard produces a PARTIAL score row (as if
    read from a separate model-slice file), and the merge is a
    groupBy(key).sum — bounded memory per shard at scale."""
    k = len(weights)
    per = (k + n_slices - 1) // n_slices
    parts = []
    for s in range(n_slices):
        lo = s * per
        hi = min(lo + per, k)
        if lo >= hi:
            break
        w = F.array(*[F.lit(float(v)) for v in weights[lo:hi]])
        partial = F.aggregate(
            F.zip_with(F.slice(features, lo + 1, hi - lo), w, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        parts.append(
            df.select(F.col(key), F.lit(s).alias("slice_id"), partial.alias("p"))
        )
    long = parts[0]
    for p in parts[1:]:
        long = long.unionByName(p)
    return long.groupBy(key).agg(F.sum("p").alias(out_col))

def chunk_tokens(
    df: DataFrame,
    length: int,
    stride: int | None = None,
    tokens_col: str = "tokens",
    key: str = "doc_id",
    keep_remainder: bool = True,
) -> DataFrame:
    """Split each doc's token array into training-length chunks: chunk i
    covers 1-based positions [1 + i*stride, 1 + i*stride + length);
    default stride = length (disjoint), stride < length gives the
    overlapping-context variant (trailing chunks clip at the doc end).
    keep_remainder=False emits only full-length windows — the default
    keeps the tail, because silently dropping remainder tokens is how
    training sets lose their document endings.

    Pure JVM array ops (sequence -> transform(slice) -> posexplode): a
    per-row map that pipelines onto the scan with no shuffle at any corpus
    size; token VALUES are slices of the input array, byte-identical
    passthrough (pinned by test).

    Returns (key, chunk_id, n_tok_chunk, tokens_col), chunk_id 0-based in
    document order.
    """
    stride = length if stride is None else stride
    if stride <= 0 or length <= 0:
        raise ValueError("length and stride must be positive")
    n = F.size(tokens_col)
    # chunk count: starts are 1 + i*stride; keep_remainder admits any
    # start <= n, else only starts with a full window (start+length-1 <= n)
    min_rows = 1 if keep_remainder else length
    # build the expression with the count inlined (expr has no bind params)
    nc_sql = (
        f"floor((size({tokens_col}) - 1) / {stride}) + 1"
        if keep_remainder
        else f"floor((size({tokens_col}) - {length}) / {stride}) + 1"
    )
    chunks = F.expr(
        f"transform(sequence(0, int({nc_sql}) - 1), "
        f"i -> slice({tokens_col}, 1 + i * {stride}, {length}))"
    )
    from pyspark.sql.types import ArrayType

    empty = F.array().cast(ArrayType(df.schema[tokens_col].dataType))
    out = df.select(
        F.col(key),
        F.posexplode(
            F.when(n >= min_rows, chunks).otherwise(empty)
        ).alias("chunk_id", "__chunk"),
    )
    return out.select(
        F.col(key),
        "chunk_id",
        F.size("__chunk").alias("n_tok_chunk"),
        F.col("__chunk").alias(tokens_col),
    )
