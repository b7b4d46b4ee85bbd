"""Kaplan–Meier survival curves over entity event streams.

The reference scores per-patient disease trajectories against visit
timelines (dssPerformanceEvaluation.R:49-58 aggregates per-patient
outcomes; dssFunctionLibrary.R:119-171 pairs observations against visit
timestamps); the survival generalization — time-to-churn with
right-censoring for entities still active at the observation boundary —
is the standard retention-modeling feature (Kaplan & Meier 1958).

Scale design: the heavy passes are entity-keyed (per-entity span: ONE
groupBy) and duration-keyed (curve cells: ONE groupBy over day-binned
durations, whose domain is bounded by the calendar, not the entity
count). Only the aggregated curve — hundreds of rows — crosses the
single-partition window that runs the product fold, the same
tiny-frame-global-pass shape as target_encode's prior pass. The
observation boundary is a broadcast 1-row corpus-max fit (the
psi_drift/lagged_corr scalar-broadcast idiom).

Cross-engine determinism: risk sets and event counts are exact longs;
the survival product is folded as exp(sum of ln((n_i - d_i)/n_i)) with
integer-ratio ln arguments (the behavior_divergence precedent) in
ascending-duration order on BOTH engines — Spark folds a
collect_list-over-running-window array left to right; the DuckDB twin
folds list(term ORDER BY day) over a theta self-join of the tiny curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kaplan_meier(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    churn_gap_days: float = 7.0,
    bin_seconds: int = 86400,
) -> DataFrame:
    """Kaplan–Meier estimate of entity lifetime (time between first and
    last observed event, binned to `bin_seconds` — the bin keeps the
    curve domain calendar-bounded at any entity count). An entity whose
    last event falls within `churn_gap_days` of the corpus's last
    timestamp is right-CENSORED (still alive at the boundary);
    otherwise its lifetime ended (event).

    At each distinct binned duration t (ascending):

        n_risk(t) = entities with duration >= t
        S(t)      = prod_{t_i <= t} (1 - d_i / n_risk(t_i))

    Returns one row per distinct duration bin:
    (duration_bin, n_risk, n_events, n_censored, km_survival).
    """
    gap_us = int(round(float(churn_gap_days) * 86400e6))
    bin_us = int(bin_seconds) * 1_000_000
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    d = df.select(F.col(entity).alias("__e"), us.alias("__us"))
    spans = d.groupBy("__e").agg(
        F.min("__us").alias("__s"), F.max("__us").alias("__t")
    )
    mx = d.agg(F.max("__us").alias("__mx"))
    spans = spans.crossJoin(F.broadcast(mx))
    sv = spans.select(
        F.expr(f"(__t - __s) div {bin_us}").alias("duration_bin"),
        (F.col("__t") <= F.col("__mx") - F.lit(gap_us)).alias("__obs"),
    )
    curve = sv.groupBy("duration_bin").agg(
        F.sum(F.when(F.col("__obs"), 1).otherwise(0))
        .cast("long")
        .alias("n_events"),
        F.sum(F.when(F.col("__obs"), 0).otherwise(1))
        .cast("long")
        .alias("n_censored"),
    )
    w = Window.orderBy("duration_bin")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leave = F.col("n_events") + F.col("n_censored")
    curve = curve.withColumn(
        "n_risk",
        (
            F.sum(leave).over(w_all)
            - F.coalesce(F.sum(leave).over(w_prev), F.lit(0))
        ).cast("long"),
    )
    # ln term is 0 (not -inf/NULL) on the terminal d == n row; the
    # cumulative zero flag forces S = 0 there and after instead
    term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            (F.col("n_risk") - F.col("n_events")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    curve = curve.withColumn("__term", term).withColumn(
        "__zero",
        F.max(
            F.when(F.col("n_events") == F.col("n_risk"), 1).otherwise(0)
        ).over(w_cum),
    )
    lnsum = F.aggregate(
        F.collect_list("__term").over(w_cum),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    km = F.when(F.col("__zero") == 1, F.lit(0.0)).otherwise(F.exp(lnsum))
    return curve.select(
        "duration_bin",
        "n_risk",
        "n_events",
        "n_censored",
        km.alias("km_survival"),
    )
