"""Point-in-time (as-of) join and same-table event-distance scans.

Two operators:

- time_since_event: same-table as-of scan. Pure window expressions, JVM-side.
  Parity: dssl/mimicUsefulFunction.R:23-94
  (dss.Auxiliary.CalculateTimeSinceAndToEvent). The reference semantics are
  *strict*: a row's "last event" excludes the current row (the forward pass
  emits before updating lastEventHT), and "next event" excludes it too.

- asof_join: two-table point-in-time join (Spark has no native ASOF JOIN).
  Tag-union both sides, one entity-keyed shuffle of each row + sort on
  (entity, on, side), then the match is a pure last(struct, ignoreNulls)
  expanding window — i.e. the sort-merge as-of scan expressed as LOCF over
  the merged stream. A left side that an upstream window leg already
  hash-partitioned by entity is not shuffled again: only the right side
  is (see _tag_union). 100% JVM
  (WindowExec, whole-stage codegen feeding it), no Python workers,
  streaming O(n+m), spill-safe, and AQE/skew machinery applies normally.
  A single giant entity is still a single WindowExec partition, but sort +
  running-last spill instead of materializing a pandas group.
  direction="nearest" rides the same single sort with a dual-visibility
  payload (see _asof_window_nearest).

  Backward direction is the default and the only one allowed for feature
  columns; forward/nearest require leakage_ok=True (zero-temporal-leakage
  rule, BASELINE.json north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.functions.timeutil import epoch_seconds


class LeakageError(ValueError):
    """Raised when a forward-looking window is requested without opt-in."""


def time_since_event(
    df: DataFrame,
    event: str = "event",
    entity: str = "entity_id",
    ts: str = "ts",
    include_forward: bool = False,
    leakage_ok: bool = False,
) -> DataFrame:
    """Add time_since_last_event / time_since_first_event (backward, strict)
    and optionally time_to_next_event / time_to_first_event (forward —
    label/eval columns only, gated by leakage_ok).

    Parity: mimicUsefulFunction.R:23-94. All distances are ts deltas in the
    ts column's own unit (seconds if numeric epoch, or cast from timestamp).
    """
    if include_forward and not leakage_ok:
        raise LeakageError(
            "time_to_next_event / time_to_first_event are forward-looking; "
            "pass leakage_ok=True to compute them for label/eval columns."
        )
    w = Window.partitionBy(entity).orderBy(ts)
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    t = epoch_seconds(df, ts)
    ev_ts = F.when(F.col(event) == 1, t)

    # one select, so one Window node: the frames differ but share the spec
    cols = {
        "time_since_last_event": t - F.max(ev_ts).over(prev),
        "time_since_first_event": t - F.min(ev_ts).over(prev),
    }
    if include_forward:
        nxt = w.rowsBetween(1, Window.unboundedFollowing)
        cols["time_to_next_event"] = F.min(ev_ts).over(nxt) - t
    out = df.withColumns(cols)
    if include_forward:
        # R parity (mimicUsefulFunction.R:86-88): timeToFirstEvent is defined
        # ONLY on rows before any event was seen, where it equals
        # timeToNextEvent; after the first event it stays NULL.
        out = out.withColumn(
            "time_to_first_event",
            F.when(
                F.col("time_since_first_event").isNull(),
                F.col("time_to_next_event"),
            ),
        )
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] = "entity_id",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    right_cols: list[str] | None = None,
    suffix: str = "_r",
    leakage_ok: bool = False,
) -> DataFrame:
    """Point-in-time as-of join: for each left row, the latest right row of
    the same `by` key(s) with right.on <= left.on (backward; >= for forward).

    Matches pandas.merge_asof semantics (differentially tested against it).
    `by` may be a single column or a list (composite key — e.g. the salted
    (entity, chunk) pair). tolerance is in the on-column's unit (seconds
    for numeric/timestamp). One JVM-only plan; see the module docstring.
    """
    if direction != "backward" and not leakage_ok:
        raise LeakageError(
            f"asof_join(direction={direction!r}) looks forward in time; "
            "pass leakage_ok=True (labels/eval only, never features)."
        )
    by_list = [by] if isinstance(by, str) else list(by)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in [on, *by_list]]
    # disambiguate collisions with left columns
    out_names = {}
    for c in right_cols:
        out_names[c] = c + suffix if c in left.columns else c
    right_on_out = f"{on}{suffix}"

    if direction == "nearest":
        return _asof_window_nearest(
            left, right, on, by_list, tolerance, allow_exact_matches,
            right_cols, out_names, right_on_out,
        )
    return _asof_window(
        left, right, on, by_list, direction, tolerance, allow_exact_matches,
        right_cols, out_names, right_on_out,
    )


def _tag_union(l_tag: DataFrame, r_tag: DataFrame, by: list[str]) -> DataFrame:
    """The tagged sides' union that the as-of window scans.

    A plain union loses its children's partitioning, so the window's
    exchange above it shuffles both sides, even a wide left side that an
    upstream window leg (locf, derived_features, sessionize) has already
    hash-partitioned by `by`. When Spark plans `l_tag.repartition(*by)`
    without a shuffle, that is the case: both tagged sides are then
    repartitioned by `by` before the union. EnsureRequirements drops the
    left's repartition, the union keeps the common partitioning
    (spark.sql.unionOutputPartitioning), and the window needs no exchange:
    only the right side is shuffled. Otherwise the union is left plain and
    the one exchange above it shuffles both sides once.

    The check plans the left side (no job runs)."""
    if _hash_partitioned_by(l_tag, by):
        return l_tag.repartition(*by).unionByName(r_tag.repartition(*by))
    return l_tag.unionByName(r_tag)


def _hash_partitioned_by(df: DataFrame, by: list[str]) -> bool:
    """True when the physical plan of `df.repartition(*by)` has no shuffle
    at its top, i.e. `df` already comes out hash-partitioned by `by`."""
    plan = df.repartition(*by)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # under AQE the plan's root node is the one child of AdaptiveSparkPlan
    root = lines[1] if lines[0].startswith("AdaptiveSparkPlan") else lines[0]
    return not root.lstrip("+- ").startswith("Exchange")


def _asof_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    direction: str,
    tolerance: float | None,
    allow_exact_matches: bool,
    right_cols: list[str],
    out_names: dict[str, str],
    right_on_out: str,
) -> DataFrame:
    """As-of join as LOCF over the tag-union of both sides.

    Plan: union(left+side, right+side) → WindowExec partitioned by entity,
    ordered by (on, side) → last(struct(right row), ignoreNulls) over the
    expanding frame → keep left rows. Each row is shuffled at most once
    (see _tag_union), zero Python. The right
    row is carried as ONE struct so all its columns come from the same
    matched row (independent per-column last() could mix rows when the
    right side itself has nulls — pandas merge_asof is row-wise).

    Tie order encodes exact-match semantics: scanning toward the match
    direction, right rows at an equal `on` sort before left rows iff exact
    matches are allowed.
    """
    payload = F.struct(
        F.col(on).alias("__m_on"),
        *[F.col(c).alias(out_names[c]) for c in right_cols],
    )
    l_tag = left.withColumn("__side", F.lit(1)).withColumn(
        "__r", F.lit(None).cast(right.select(payload).schema[0].dataType)
    )
    r_tag = right.select(
        *[F.col(b) for b in by], F.col(on), payload.alias("__r")
    ).withColumn("__side", F.lit(0))
    for f in left.schema.fields:
        if f.name not in [*by, on]:
            r_tag = r_tag.withColumn(f.name, F.lit(None).cast(f.dataType))
    u = _tag_union(l_tag, r_tag.select(*l_tag.columns), by)

    # side sort value: 0 scans first. Right-first at ties <=> exact allowed.
    side_rank = F.when(
        F.col("__side") == 0,
        F.lit(0 if allow_exact_matches else 1),
    ).otherwise(F.lit(1 if allow_exact_matches else 0))
    order = (
        [F.col(on).asc(), side_rank.asc()]
        if direction == "backward"
        else [F.col(on).desc(), side_rank.asc()]
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("__r", ignorenulls=True).over(w)
    u = u.withColumn("__match", matched).filter(F.col("__side") == 1)

    m_on = F.col("__match.__m_on")
    valid = m_on.isNotNull()
    if tolerance is not None:
        t_l = epoch_seconds(u, on)
        t_m = (
            m_on.cast("timestamp").cast("double")
            if u.schema["__match"].dataType["__m_on"].dataType.typeName().startswith("timestamp")
            else m_on.cast("double")
        )
        valid = valid & (F.abs(t_l - t_m) <= F.lit(float(tolerance)))

    out = u.withColumn(right_on_out, F.when(valid, m_on))
    for c in right_cols:
        out = out.withColumn(
            out_names[c], F.when(valid, F.col(f"__match.{out_names[c]}"))
        )
    return out.drop("__side", "__r", "__match")


def _asof_window_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    tolerance: float | None,
    allow_exact_matches: bool,
    right_cols: list[str],
    out_names: dict[str, str],
    right_on_out: str,
) -> DataFrame:
    """direction='nearest' as a single-sort window plan: the tag-union
    carries every right row TWICE — once in a backward-visible payload column (__rb) and once forward-visible
    (__rf) — so ONE (entity, on, rank) sort serves both scans:

      backward match = last(__rb, ignoreNulls)  over [-inf, current]
      forward  match = first(__rf, ignoreNulls) over [current, +inf]

    The rank places each copy on the correct side of equal-`on` left rows
    for the exact-match rule (backward copy before left iff exact allowed;
    forward copy after left iff exact allowed — two independent tie rules
    one ordering could not express with a single payload). The winner is
    the closer match, ties to backward, tolerance applied AFTER the choice
    — exactly pandas.merge_asof(direction='nearest') (differentially
    tested). Zero Python; the left side is shuffled at most once (see
    _tag_union) and the right side twice (it is the smaller side in the
    canonical enrich pattern)."""
    payload = F.struct(
        F.col(on).alias("__m_on"),
        *[F.col(c).alias(out_names[c]) for c in right_cols],
    )
    ptype = right.select(payload).schema[0].dataType
    l_tag = (
        left.withColumn("__side", F.lit(1))
        .withColumn("__rb", F.lit(None).cast(ptype))
        .withColumn("__rf", F.lit(None).cast(ptype))
    )

    def _r_tag(col_name, side_val):
        t = right.select(
            *[F.col(b) for b in by], F.col(on), payload.alias(col_name)
        ).withColumn("__side", F.lit(side_val))
        other = "__rf" if col_name == "__rb" else "__rb"
        t = t.withColumn(other, F.lit(None).cast(ptype))
        for f in left.schema.fields:
            if f.name not in [*by, on]:
                t = t.withColumn(f.name, F.lit(None).cast(f.dataType))
        return t.select(*l_tag.columns)

    u = _tag_union(l_tag, _r_tag("__rb", 0).unionByName(_r_tag("__rf", 2)), by)

    # tie rank at equal on: left rows = 1; backward copies sort before
    # left iff exact matches allowed; forward copies after left iff exact
    # allowed (and vice versa when disallowed)
    rank = (
        F.when(F.col("__side") == 1, F.lit(1))
        .when(F.col("__side") == 0, F.lit(0 if allow_exact_matches else 2))
        .otherwise(F.lit(2 if allow_exact_matches else 0))
    )
    base = Window.partitionBy(*by).orderBy(F.col(on).asc(), rank.asc())
    w_b = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_f = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u = (
        u.withColumn("__mb", F.last("__rb", ignorenulls=True).over(w_b))
        .withColumn("__mf", F.first("__rf", ignorenulls=True).over(w_f))
        .filter(F.col("__side") == 1)
    )

    is_ts = u.schema[on].dataType.typeName().startswith("timestamp")

    def _sec(c):
        return c.cast("timestamp").cast("double") if is_ts else c.cast("double")

    t_l = _sec(F.col(on))
    db = F.abs(t_l - _sec(F.col("__mb.__m_on")))
    df_ = F.abs(_sec(F.col("__mf.__m_on")) - t_l)
    pick_b = F.col("__mb").isNotNull() & (
        F.col("__mf").isNull() | (db <= df_)
    )
    match = F.when(pick_b, F.col("__mb")).otherwise(F.col("__mf"))
    u = u.withColumn("__match", match)

    m_on = F.col("__match.__m_on")
    valid = m_on.isNotNull()
    if tolerance is not None:
        valid = valid & (F.abs(t_l - _sec(m_on)) <= F.lit(float(tolerance)))
    out = u.withColumn(right_on_out, F.when(valid, m_on))
    for c in right_cols:
        out = out.withColumn(
            out_names[c], F.when(valid, F.col(f"__match.{out_names[c]}"))
        )
    return out.drop("__side", "__rb", "__rf", "__mb", "__mf", "__match")
