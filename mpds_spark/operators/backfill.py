"""Backfill operators: LOCF (sample-and-hold) with expiration, and
per-entity linear interpolation.

Parity:
- locf ← dssl/mimicUsefulFunction.R:301-332
  (mimic.SampleAndHoldPropagation.WithExpiration): emits the carried value,
  the time since the last observed sample, and the carried value nulled
  again once ts - last_sample_ts > valid_time. Strictly backward-looking.
- locf with default ← mimicUsefulFunction.R:711-718
  (singlePatientSampleAndHoldInterpolation): leading nulls get defVal.
- interpolate ← mimicUsefulFunction.R:631-708
  (mimic.singlePatientLinearInterpolation + aux.linear_approx): linear
  interpolation between non-null neighbors; a null FIRST element becomes
  defVal; a null LAST element becomes the last non-null value; an all-null
  entity becomes defVal everywhere. Needs the *next* non-null value, so it
  is forward-looking: gated by leakage_ok (train-prep only, never features).

Scale: locf and interpolate are pure window expressions (one entity
exchange and one sort, WindowExec, whole-stage codegen; no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.functions.timeutil import epoch_seconds, ieee_div

from mpds_spark.operators.asof import LeakageError


def locf(
    df: DataFrame,
    value: str = "value",
    entity: str = "entity_id",
    ts: str = "ts",
    valid_time: float | None = None,
    default: float | None = None,
    out_prefix: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward per entity, with optional expiration
    and optional default for leading nulls.

    Adds columns:
      {p}_locf                — carried value (current row's own value wins)
      {p}_time_since_sample   — ts - ts(last non-null), null if never seen
      {p}_locf_expir          — carried value, nulled when
                                time_since_sample > valid_time
                                (only when valid_time is not None)
    """
    p = out_prefix or value
    w = (
        Window.partitionBy(entity)
        .orderBy(ts)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = epoch_seconds(df, ts)
    last_sample_t = F.last(
        F.when(F.col(value).isNotNull(), t), ignorenulls=True
    ).over(w)
    locf_c, tsls_c = f"{p}_locf", f"{p}_time_since_sample"
    # one Window node; expiry and default read the carried column, so the
    # window is not evaluated again
    out = df.withColumns(
        {
            locf_c: F.last(F.col(value), ignorenulls=True).over(w),
            tsls_c: t - last_sample_t,
        }
    )
    finish = {}
    if valid_time is not None:
        finish[f"{p}_locf_expir"] = F.when(
            F.col(tsls_c) > F.lit(float(valid_time)), F.lit(None)
        ).otherwise(F.col(locf_c))
    if default is not None:
        finish[locf_c] = F.coalesce(F.col(locf_c), F.lit(default))
    return out.withColumns(finish)


def interpolate(
    df: DataFrame,
    value: str = "value",
    entity: str = "entity_id",
    ts: str = "ts",
    default: float = 0.0,
    out_col: str | None = None,
    leakage_ok: bool = False,
) -> DataFrame:
    """Per-entity linear interpolation of nulls (reference semantics above).

    Forward-looking (uses the next non-null sample): requires leakage_ok.

    Pure window expressions over one entity exchange and one sort on the
    projected epoch time `__t`, in two Window levels that each name their
    aggregates once:
    1. pad: last row's null <- last non-null; first row's null <- default;
       all-null entity <- default everywhere
    2. interior nulls: (yn*(x-xp) + yp*(xn-x)) / (xn-xp) between the padded
       previous/next non-null neighbors.

    A null row whose previous and next non-null neighbors share its ts has
    xn - xp = 0 and a zero numerator: it gets the reference's 0/0 = NaN
    (`ieee_div`), not an ANSI DIVIDE_BY_ZERO error. Which of several rows
    at one ts count as previous or next follows Spark's order of the tie.
    """
    if not leakage_ok:
        raise LeakageError(
            "interpolate() uses future samples (forward-looking); pass "
            "leakage_ok=True — train-prep only, never feature columns."
        )
    oc = out_col or f"{value}_interp"
    d = df.withColumn("__t", epoch_seconds(df, ts))
    w = Window.partitionBy(entity).orderBy("__t")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    v = F.col(value).cast("double")
    pad = {
        "__n_val": F.count(v).over(full),
        "__last_val": F.last(v, ignorenulls=True).over(full),
        "__rn": F.row_number().over(w),
        "__n_rows": F.count(F.lit(1)).over(full),
    }
    rn = F.col("__rn")
    v2 = (
        F.when(v.isNotNull(), v)
        .when(F.col("__n_val") == 0, F.lit(float(default)))
        # pad last (before first: R order), then pad first with default
        .when(rn == F.col("__n_rows"), F.col("__last_val"))
        .when(rn == 1, F.lit(float(default)))
    )
    d = d.withColumns(pad).withColumn("__v2", v2)
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    y = F.col("__v2")
    x = F.when(y.isNotNull(), F.col("__t"))
    near = {
        "__yp": F.last(y, ignorenulls=True).over(wb),
        "__xp": F.last(x, ignorenulls=True).over(wb),
        "__yn": F.first(y, ignorenulls=True).over(wf),
        "__xn": F.first(x, ignorenulls=True).over(wf),
    }
    t, yp, xp, yn, xn = (F.col(c) for c in ("__t", *near))
    interp = ieee_div(yn * (t - xp) + yp * (xn - t), xn - xp)
    out = d.withColumns(near).withColumn(
        oc, F.when(y.isNotNull(), y).otherwise(interp)
    )
    return out.drop("__t", *pad, "__v2", *near)


def densify_daily(
    df: DataFrame,
    ts: str = "ts",
    entity: str = "entity_id",
    value: str | None = None,
    bucket_s: int = 86400,
) -> DataFrame:
    """Dense per-entity time grid with zero-fill: one row for EVERY
    bucket between an entity's first and last event (inclusive), with
    n_events = 0 (and sum_value = 0) on the silent days — the densify
    step a fixed-stride windowed model needs before convolution/lag
    features, and the natural companion to locf (which assumes the grid
    already exists). Reference analogue: the dense per-day scoring grid
    behind the MPDS scoring windows (dssl/dssFunctionLibrary.R:876-917
    aggregates per scoring day, not per raw event).

    Grid generation is sequence(first_bucket, last_bucket) EXPLODED from
    the per-entity span row — the generated-dimension idiom: the grid
    never materializes on the driver and its size is data-bounded
    (span/bucket per entity). `value` must be an exact integer column
    (e.g. cents) when given; all outputs are exact.

    Shape at scale: per-(entity,bucket) partial agg (raw volume
    collapses here), tiny span agg, explode, and one (entity,bucket)
    join back. Returns (entity, bucket_start_s, n_events[, sum_value])."""
    bucket_us = int(bucket_s) * 1_000_000
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    cols = [F.count(F.lit(1)).cast("long").alias("n_events")]
    if value is not None:
        cols.append(
            F.sum(F.col(value).cast("decimal(38,0)")).alias("__s")
        )
    per = (
        df.select(F.col(entity), us.alias("__us"),
                  *([F.col(value)] if value else []))
        .withColumn(
            "__b", F.floor(F.col("__us") / F.lit(bucket_us)).cast("long")
        )
        .groupBy(entity, "__b")
        .agg(*cols)
    )
    span = per.groupBy(entity).agg(
        F.min("__b").alias("__b0"), F.max("__b").alias("__b1")
    )
    grid = span.select(
        entity, F.explode(F.sequence("__b0", "__b1")).alias("__b")
    )
    out = grid.join(per, [entity, "__b"], "left")
    sel = [
        F.col(entity),
        (F.col("__b") * F.lit(float(bucket_s))).alias("bucket_start_s"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long")
        .alias("n_events"),
    ]
    if value is not None:
        sel.append(
            F.coalesce(F.col("__s"), F.lit(0).cast("decimal(38,0)"))
            .alias("sum_value"),
        )
    return out.select(*sel)
