"""Sessionization and interval/range-window operators.

Parity:
- sessionize: gap-based session ids (the batch analogue of
  F.session_window) — the classic lag+cumsum trick.
- remove_short_on_intervals ← mimicUsefulFunction.R:384-436
  (mimic.RemoveShortOnIntervals): a run of 1s survives only if the time
  span first-1-row → last-1-row is >= time_th; null signal counts as 0.
- unite_adjacent_on_intervals ← mimicUsefulFunction.R:449-494
  (mimic.UniteAdjacentOnIntervals): 0-gaps between two 1-runs are filled
  when (first-1-of-next-run ts) - (last-1-of-prev-run ts) <= union_th.
  Both are offline, two-sided signal cleaners: a row's output depends on
  later rows of its entity, so both require leakage_ok=True.
- event_response ← dssFunctionLibrary.R:1350-1368 + 1419-1503
  (time-weighted trapezoidal averages over the post-event window
  (t_e, t_e+wind] and, in pre_post mode, the pre-event window
  [t_e-wind, t_e]). Implemented with pure range-frame window sums — no
  join, no Python: the trapezoid Σ (v_{j-1}+v_j)/2·(t_j−t_{j-1}) over the
  window equals a range-frame sum of per-row segment terms minus the
  boundary segment.
- interval_join: the generic two-table range join (events × observations
  with obs.ts in (ev.ts, ev.ts+wind]) + aggregation — the SQL-expressible
  sibling of event_response for oracle checks.

Scale: everything except interval_join is window-only (one entity range
exchange, WindowExec, codegen). interval_join is a range join: the small
side should be broadcast (events ≪ observations is the common case) —
Catalyst picks BroadcastNestedLoopJoin under the 64MB threshold; above it,
bucketize ts and equi-join on (entity, bucket) to make it a sort-merge join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.functions.timeutil import epoch_seconds
from mpds_spark.operators.asof import LeakageError


def sessionize(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    gap: float = 1800.0,
    out_col: str = "session_id",
) -> DataFrame:
    """Per-entity session ids: a new session starts when the gap to the
    previous row exceeds `gap` (ts units; seconds for timestamps)."""
    w = Window.partitionBy(entity).orderBy(ts)
    t = epoch_seconds(df, ts)
    new_sess = (t - F.lag(t, 1).over(w) > F.lit(float(gap))).cast("long")
    sid = F.sum(F.coalesce(new_sess, F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, sid)


def _runs(df: DataFrame, entity: str, ts: str, signal: str):
    """Tag each row with the id of the 1-run it belongs to (null for 0-rows).
    Null signal counts as 0 (reference: sig_raw[is.na(sig_raw)] = 0)."""
    w = Window.partitionBy(entity).orderBy(ts)
    sig = F.coalesce(F.col(signal), F.lit(0))
    prev = F.coalesce(F.lag(sig).over(w), F.lit(0))
    rising = ((sig == 1) & (prev == 0)).cast("long")
    run_id = F.sum(rising).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sig, F.when(sig == 1, run_id)


def remove_short_on_intervals(
    df: DataFrame,
    signal: str = "signal",
    entity: str = "entity_id",
    ts: str = "ts",
    time_th: float = 3600.0,
    out_col: str = "signal_clean",
    leakage_ok: bool = False,
) -> DataFrame:
    """1 where a row's signal run spans >= time_th seconds, else 0.

    Forward-looking (a run's span includes its later rows): requires
    leakage_ok — train-prep only, never feature columns."""
    if not leakage_ok:
        raise LeakageError(
            "remove_short_on_intervals() reads the rest of each run "
            "(forward-looking); pass leakage_ok=True — train-prep only."
        )
    sig, run = _runs(df, entity, ts, signal)
    d = df.withColumn("__sig", sig).withColumn("__run", run)
    wr = Window.partitionBy(entity, "__run")
    t = epoch_seconds(df, ts)
    dur = F.max(t).over(wr) - F.min(t).over(wr)
    keep = F.col("__run").isNotNull() & (dur >= F.lit(float(time_th)))
    return d.withColumn(out_col, F.when(keep, 1).otherwise(0)).drop(
        "__sig", "__run"
    )


def unite_adjacent_on_intervals(
    df: DataFrame,
    signal: str = "signal",
    entity: str = "entity_id",
    ts: str = "ts",
    union_th: float = 3600.0,
    out_col: str = "signal_united",
    leakage_ok: bool = False,
) -> DataFrame:
    """1 where a row's signal is 1 or lies in a short 0-gap between two
    1-runs, else 0.

    Forward-looking (the gap's end is the next 1-row): requires
    leakage_ok — train-prep only, never feature columns."""
    if not leakage_ok:
        raise LeakageError(
            "unite_adjacent_on_intervals() reads the next on-row "
            "(forward-looking); pass leakage_ok=True — train-prep only."
        )
    w = Window.partitionBy(entity).orderBy(ts)
    t = epoch_seconds(df, ts)
    sig = F.coalesce(F.col(signal), F.lit(0))
    ev_t = F.when(sig == 1, t)
    prev_on = F.max(ev_t).over(w.rowsBetween(Window.unboundedPreceding, -1))
    next_on = F.min(ev_t).over(w.rowsBetween(1, Window.unboundedFollowing))
    fill = (
        (sig == 0)
        & prev_on.isNotNull()
        & next_on.isNotNull()
        & (next_on - prev_on <= F.lit(float(union_th)))
    )
    return df.withColumn(
        out_col, F.when((sig == 1) | fill, 1).otherwise(0)
    )


def event_response(
    df: DataFrame,
    value: str = "value",
    event: str = "event",
    entity: str = "entity_id",
    ts: str = "ts",
    wind: float = 3600.0,
    pre_post: bool = False,
    leakage_ok: bool = False,
) -> DataFrame:
    """For each event row: time-weighted trapezoidal average of `value` over
    the post-event window (and pre-event window in pre_post mode).

    Output columns (non-event rows dropped): num_after, avg_after and — in
    pre_post mode — num_before, avg_before, avg_now, trend_before,
    trend_after, matching dss.Auxiliary.CalculateDSSResponseToTreatment[.PrePost]
    (dssFunctionLibrary.R:1419-1503). NULL when the window is empty, as in
    the reference.

    Forward-looking by definition (label/eval op): requires leakage_ok.
    """
    if not leakage_ok:
        raise LeakageError(
            "event_response aggregates future rows; pass leakage_ok=True "
            "(labels/eval only, never features)."
        )
    w = Window.partitionBy(entity).orderBy(epoch_seconds(df, ts))
    t = epoch_seconds(df, ts)
    v = F.col(value).cast("double")

    # per-row trailing segment: (v_{j-1}+v_j)/2 * (t_j - t_{j-1})
    lag_v = F.lag(v).over(w)
    lag_t = F.lag(t).over(w)
    seg = (lag_v + v) / F.lit(2.0) * (t - lag_t)
    dt = t - lag_t

    d = (
        df.withColumn("__seg", seg)
        .withColumn("__dt", dt)
        .withColumn("__t", t)
        .withColumn("__v", v)
    )
    wd = float(wind)
    # float range frames need SQL window syntax (the py4j rangeBetween
    # binding only accepts longs)
    post_frame = (
        f"OVER (PARTITION BY `{entity}` ORDER BY __t "
        f"RANGE BETWEEN CURRENT ROW AND {wd!r} FOLLOWING)"
    )
    # rows j with t_j in [t_e, t_e+w]; trapezoid needs segments j=e+1..f,
    # i.e. the frame sum minus the current row's own trailing segment.
    n_post = F.expr(f"count(__t) {post_frame}") - 1
    num_post = F.expr(f"sum(__seg) {post_frame}") - F.coalesce(
        F.col("__seg"), F.lit(0.0)
    )
    den_post = F.expr(f"sum(__dt) {post_frame}") - F.coalesce(
        F.col("__dt"), F.lit(0.0)
    )
    avg_after = F.when(n_post >= 1, num_post / den_post)

    if not pre_post:
        # plain-mode parity (dssFunctionLibrary.R:1440-1447): num_after counts
        # the event row too; avg_before is the event row's own value.
        out = (
            d.withColumn(
                "num_before", F.when(n_post >= 1, F.lit(1)).cast("long")
            )
            .withColumn("avg_before", F.when(n_post >= 1, F.col("__v")))
            .withColumn("num_after", F.when(n_post >= 1, n_post + 1).cast("long"))
            .withColumn("avg_after", avg_after)
        )
        return out.filter(F.col(event) == 1).drop("__seg", "__dt", "__t", "__v")

    out = d.withColumn("num_after", F.when(n_post >= 1, n_post).cast("long"))
    out = out.withColumn("avg_after", avg_after)

    if pre_post:
        pre_frame = (
            f"OVER (PARTITION BY `{entity}` ORDER BY __t "
            f"RANGE BETWEEN {wd!r} PRECEDING AND CURRENT ROW)"
        )
        # rows j=b..e in frame; segments j=b+1..e = frame sum minus the
        # FIRST frame row's trailing segment (it crosses the window start).
        first_seg = F.expr(f"first_value(__seg) {pre_frame}")
        first_dt = F.expr(f"first_value(__dt) {pre_frame}")
        n_pre = F.expr(f"count(__t) {pre_frame}") - 1
        num_pre = F.expr(f"sum(__seg) {pre_frame}") - F.coalesce(
            first_seg, F.lit(0.0)
        )
        den_pre = F.expr(f"sum(__dt) {pre_frame}") - F.coalesce(
            first_dt, F.lit(0.0)
        )
        ok = (n_pre >= 1) & (F.col("num_after").isNotNull())
        avg_before = F.when(ok, num_pre / den_pre)
        out = (
            out.withColumn("num_before", F.when(ok, n_pre + 1).cast("long"))
            .withColumn("avg_before", avg_before)
            .withColumn("avg_now", F.when(ok, F.col("__v")))
            .withColumn("trend_before", F.when(ok, F.col("__v") - avg_before))
            .withColumn(
                "trend_after", F.when(ok, F.col("avg_after") - F.col("__v"))
            )
            .withColumn(
                "avg_after", F.when(ok, F.col("avg_after"))
            )
            .withColumn(
                "num_after", F.when(ok, F.col("num_after"))
            )
        )

    return out.filter(F.col(event) == 1).drop("__seg", "__dt", "__t", "__v")


def interval_join(
    events: DataFrame,
    obs: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    value: str = "value",
    wind: float = 3600.0,
    how: str = "post",
    aggs: list[Column] | None = None,
    broadcast_events: bool = False,
) -> DataFrame:
    """Generic range join: events x observations of the same entity with
    obs.ts in (ev.ts, ev.ts+wind] ("post") or [ev.ts-wind, ev.ts) ("pre"),
    aggregated per event. SQL-expressible (oracle-checkable).

    The condition carries an entity equi-key, so the default plan is a
    sort-merge join on entity with the range as a post-filter — safe for a
    large events side. Pass broadcast_events=True only when the caller
    KNOWS the events side is small (e.g. a filtered trigger set); forcing
    the hint on a large side would OOM the driver at scale. At 100-TB
    scale, pre-bucketize ts on both sides and add a bucket equi-key.
    """
    ev = events.select(
        F.col(entity).alias("__e"), F.col(ts).alias("__ets")
    )
    et = epoch_seconds(ev.select(F.col("__ets")), "__ets")
    ot = epoch_seconds(obs, ts)
    if how == "post":
        cond = (F.col(entity) == F.col("__e")) & (ot > et) & (ot <= et + wind)
    elif how == "pre":
        cond = (F.col(entity) == F.col("__e")) & (ot < et) & (ot >= et - wind)
    else:
        raise ValueError(how)
    if aggs is None:
        aggs = [
            F.count(F.lit(1)).alias("n_obs"),
            F.avg(F.col(value)).alias("avg_value"),
        ]
    ev_side = F.broadcast(ev) if broadcast_events else ev
    joined = obs.join(ev_side, cond, "inner")
    return (
        joined.groupBy(F.col("__e").alias(entity), F.col("__ets").alias("event_ts"))
        .agg(*aggs)
    )


def session_stats(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    gap: float = 1800.0,
) -> DataFrame:
    """Per-entity session summary over the gap-rule sessionization
    (sessionize above, reference parity dssFunctionLibrary.R session
    windows): session count, events, mean events/session, mean and max
    session duration — the engagement-shape features fed alongside the
    per-event windows.

    Cross-engine determinism: session membership is the exact gap rule;
    durations are exact microsecond (max - min) per session summed as
    longs, divided once.

    Shape at scale: ONE entity-keyed exchange — the sessionize window,
    the (entity, session) rollup and the entity rollup all cluster on
    the entity key, so Catalyst reuses the partitioning for every stage
    (plan-budget-pinned).

    Returns (entity, n_sessions, n_events, mean_events, mean_duration_s,
    max_duration_s)."""
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    s = sessionize(df, entity=entity, ts=ts, gap=gap, out_col="__sid")
    per_session = s.select(
        F.col(entity), F.col("__sid"), us.alias("__us")
    ).groupBy(entity, "__sid").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        (F.max("__us") - F.min("__us")).alias("__dur_us"),
    )
    k = F.col("n_sessions").cast("double")
    return per_session.groupBy(entity).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("__n").cast("long").alias("n_events"),
        F.sum("__dur_us").cast("long").alias("__dur_sum"),
        F.max("__dur_us").cast("long").alias("__dur_max"),
    ).select(
        F.col(entity),
        "n_sessions",
        "n_events",
        (F.col("n_events").cast("double") / k).alias("mean_events"),
        (F.col("__dur_sum").cast("double") / (k * 1e6))
        .alias("mean_duration_s"),
        (F.col("__dur_max").cast("double") / 1e6).alias("max_duration_s"),
    )


def nested_sessions(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    fine_gap: float = 300.0,
    coarse_gap: float = 1800.0,
) -> DataFrame:
    """Two-granularity gap sessionization with Allen interval-relation
    classification (Allen 1983): every fine session (gap > fine_gap
    starts a new one) is positioned against its enclosing coarse session
    (gap > coarse_gap). Because coarse_gap >= fine_gap, a coarse boundary
    is always also a fine boundary, so each fine session nests in exactly
    ONE coarse session and the only possible Allen relations are

        equals   — the fine session IS the whole coarse session
        starts   — shares the coarse start, ends earlier
        finishes — starts later, shares the coarse end
        during   — strictly interior

    This is the burst-inside-visit hierarchy (activity bursts inside app
    sessions inside days) that multi-scale engagement features are built
    from — reference analogue: the gap-rule session windows of
    dssFunctionLibrary.R applied at two scales.

    Shape at scale: ONE entity-keyed exchange. The two cumulative
    boundary sums share one window sort; the (entity, coarse, fine)
    rollup and the (entity, coarse) min/max window both cluster on
    subsets of the entity hash partitioning, so Catalyst reuses the
    exchange for every stage (plan-budget-pinned at 1 shuffle, 0
    Python).

    Returns (entity, coarse_id, fine_id, n_events, fine_start, fine_end,
    coarse_start, coarse_end, relation) — timestamps as exact epoch-
    second doubles, ids 0-based per entity.
    """
    if float(coarse_gap) < float(fine_gap):
        raise ValueError(
            f"coarse_gap ({coarse_gap}) must be >= fine_gap ({fine_gap}) "
            "for nesting to hold"
        )
    w = Window.partitionBy(entity).orderBy(ts)
    we = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = epoch_seconds(df, ts)
    gap = t - F.lag(t, 1).over(w)
    fine_new = F.coalesce(
        (gap > F.lit(float(fine_gap))).cast("long"), F.lit(0)
    )
    coarse_new = F.coalesce(
        (gap > F.lit(float(coarse_gap))).cast("long"), F.lit(0)
    )
    tagged = df.select(
        F.col(entity),
        t.alias("__t"),
        F.sum(fine_new).over(we).alias("fine_id"),
        F.sum(coarse_new).over(we).alias("coarse_id"),
    )
    fine = tagged.groupBy(entity, "coarse_id", "fine_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("__t").alias("fine_start"),
        F.max("__t").alias("fine_end"),
    )
    wc = Window.partitionBy(entity, "coarse_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = fine.withColumn(
        "coarse_start", F.min("fine_start").over(wc)
    ).withColumn("coarse_end", F.max("fine_end").over(wc))
    s_eq = F.col("fine_start") == F.col("coarse_start")
    e_eq = F.col("fine_end") == F.col("coarse_end")
    relation = (
        F.when(s_eq & e_eq, F.lit("equals"))
        .when(s_eq, F.lit("starts"))
        .when(e_eq, F.lit("finishes"))
        .otherwise(F.lit("during"))
    )
    return out.select(
        entity,
        "coarse_id",
        "fine_id",
        "n_events",
        "fine_start",
        "fine_end",
        "coarse_start",
        "coarse_end",
        relation.alias("relation"),
    )


def interval_overlap(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    kind: str = "event_type",
    a_kind: str = "view",
    b_kind: str = "click",
    duration: float = 3600.0,
) -> DataFrame:
    """Temporal co-activity between two interval sets per entity: each
    a_kind/b_kind event opens a fixed [ts, ts+duration) activity window;
    overlapping windows of the same kind merge; the operator reports the
    merged measure of each side, their intersection measure, and the
    temporal Jaccard  overlap / (a + b - overlap)  — the
    do-these-behaviors-co-occur-in-time feature (ad exposure vs
    conversion activity, error windows vs support contacts).

    Implemented as ONE union-timeline sweep (the same cumulative-
    difference pattern as feature_matrix): every window contributes a
    (+1) start and a (-1) end boundary tagged per side; running counts
    over the entity-keyed boundary order give instantaneous activity,
    and each boundary's segment-to-next-boundary length accrues to
    a / b / overlap where the respective counts are positive. Interval
    MERGING is free — merged measure is exactly "count > 0" time. All
    measures are exact microsecond longs; the only doubles are three
    /1e6 conversions and the one Jaccard division.

    Boundary ties: segments between tied boundaries have zero length, so
    the accrued measures are tie-order-invariant; the (ts, da, db) order
    is fixed anyway so per-row running counts are cross-engine stable.

    Shape at scale: filter + boundary-explode are map-side; the running
    counts, the lead() segment length and the per-entity rollup all
    cluster on the entity key — ONE exchange (plan-budget-pinned). The
    DuckDB oracle derives the same numbers the naive way (gaps-and-
    islands merge + pairwise interval-intersection join), proving the
    sweep's equivalence.

    Returns (entity, n_a, n_b, a_seconds, b_seconds, overlap_seconds,
    time_jaccard).
    """
    dur_us = int(round(float(duration) * 1e6))
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    is_a = F.col(kind) == a_kind
    ev = df.filter(F.col(kind).isin([a_kind, b_kind])).select(
        F.col(entity),
        us.alias("__s"),
        (us + F.lit(dur_us)).alias("__e"),
        is_a.alias("__a"),
    )
    da = F.when(F.col("__a"), F.col("__d")).otherwise(F.lit(0))
    db = F.when(~F.col("__a"), F.col("__d")).otherwise(F.lit(0))
    bounds = ev.select(
        entity,
        "__a",
        F.explode(
            F.array(
                F.struct(
                    F.col("__s").alias("__t"), F.lit(1).alias("__d")
                ),
                F.struct(
                    F.col("__e").alias("__t"), F.lit(-1).alias("__d")
                ),
            )
        ).alias("b"),
    ).select(
        entity,
        F.col("b.__t").alias("__t"),
        F.col("b.__d").alias("__d"),
        "__a",
    ).select(
        entity, "__t", da.alias("__da"), db.alias("__db")
    )
    w = Window.partitionBy(entity).orderBy("__t", "__da", "__db")
    we = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seg = (
        bounds.withColumn("__ca", F.sum("__da").over(we))
        .withColumn("__cb", F.sum("__db").over(we))
        .withColumn(
            "__dt",
            F.coalesce(F.lead("__t").over(w) - F.col("__t"), F.lit(0)),
        )
    )
    on_a, on_b = F.col("__ca") > 0, F.col("__cb") > 0
    out = seg.groupBy(entity).agg(
        F.sum(F.when(F.col("__da") == 1, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__db") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
        F.sum(F.when(on_a, F.col("__dt")).otherwise(F.lit(0)))
        .cast("long").alias("__aus"),
        F.sum(F.when(on_b, F.col("__dt")).otherwise(F.lit(0)))
        .cast("long").alias("__bus"),
        F.sum(F.when(on_a & on_b, F.col("__dt")).otherwise(F.lit(0)))
        .cast("long").alias("__ous"),
    )
    union_us = F.col("__aus") + F.col("__bus") - F.col("__ous")
    return out.select(
        entity,
        "n_a",
        "n_b",
        (F.col("__aus").cast("double") / 1e6).alias("a_seconds"),
        (F.col("__bus").cast("double") / 1e6).alias("b_seconds"),
        (F.col("__ous").cast("double") / 1e6).alias("overlap_seconds"),
        F.when(
            union_us > 0,
            F.col("__ous").cast("double") / union_us.cast("double"),
        ).otherwise(F.lit(0.0)).alias("time_jaccard"),
    )


def peak_concurrency(
    df: DataFrame,
    ts: str = "ts",
    duration: float = 1800.0,
) -> DataFrame:
    """Peak concurrent activity per day (capacity planning: the max
    number of simultaneously-open activity windows, each event opening
    [ts, ts+duration)), via the boundary sweep: +1/-1 deltas ordered by
    (time, delta) — ends sort before starts at the same instant, so
    back-to-back windows never double-count — a running sum, and a
    per-day (max, earliest-attaining-time) rollup.

    All values exact longs; the tie rule and ordering are pinned so the
    running counts are cross-engine identical.

    Shape at scale: the running count is a GLOBAL ordered window —
    concurrency is a global statement — planned here as the
    single-partition pass over the boundary stream; at 10^12 events it
    becomes the classic two-pass (per-range-partition local sums + a
    tiny prefix-carry broadcast), the salted-LOCF shape. Budget-pinned.

    Returns (day, peak_concurrent, peak_at_us).
    """
    dur_us = int(round(float(duration) * 1e6))
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    bounds = df.select(
        F.explode(
            F.array(
                F.struct(us.alias("__t"), F.lit(1).alias("__d")),
                F.struct(
                    (us + F.lit(dur_us)).alias("__t"),
                    F.lit(-1).alias("__d"),
                ),
            )
        ).alias("b")
    ).select(F.col("b.__t").alias("__t"), F.col("b.__d").alias("__d"))
    w = Window.orderBy("__t", "__d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    runs = bounds.withColumn(
        "__run", F.sum("__d").over(w).cast("long")
    ).filter(F.col("__d") == 1)
    # peak attribution: the day of the WINDOW-OPENING event
    runs = runs.withColumn("__day", F.expr("__t div 86400000000"))
    best = runs.groupBy("__day").agg(
        F.max(
            F.struct(F.col("__run"), (-F.col("__t")).alias("__nt"))
        ).alias("__b")
    )
    return best.select(
        F.col("__day").alias("day"),
        F.col("__b.__run").alias("peak_concurrent"),
        (-F.col("__b.__nt")).alias("peak_at_us"),
    )
