"""Skew handling for hot entities.

Two mechanisms, matching how each operator class scales:

1. The as-of join and every pure window operator are sort-based and
   streaming: a hot entity is one WindowExec partition that SPILLS rather
   than OOMs, so they need no salting to be correct — AQE skew-join
   splitting covers the join legs. (Verified by the hot-entity smoke test.)

2. Grouped-map Arrow ops (interpolate strategy='pandas') materialize one
   pandas group per entity — a 10^8-row entity breaks that (the DEFAULT
   interpolate strategy is window-based and skew-safe without salting).
   salted_asof_join bounds the as-of scan's sort partition: it
   splits each entity's LEFT rows into time-range chunks of bounded size
   and replays the single latest RIGHT row before each chunk boundary into
   the chunk ("boundary-overlap replay"), so every chunk is self-contained
   for a backward as-of scan keyed on (entity, chunk). Result is provably
   identical to the unsalted join (differential-tested), with one
   WindowExec partition per chunk instead of per entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.functions.timeutil import epoch_seconds
from mpds_spark.operators.asof import asof_join


def salted_asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity_id",
    chunk_span: float = 86400.0,
    right_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Backward as-of join with (entity, time-chunk) salting.

    chunk = floor(on / chunk_span): left rows join only within their chunk;
    the right side contributes its own-chunk rows PLUS a carry row — the
    latest right row of any earlier chunk — so matches across chunk
    boundaries are preserved exactly.

    Sizing: each (entity, chunk) becomes ONE window partition key — pick
    chunk_span so chunks hold ~10^5-10^6 left rows (the point of salting
    is splitting a 10^8-row entity into bounded sorts, not splitting
    small entities into dust).

    Tie caveat: "identical to the unsalted join" holds when the right side
    is UNIQUE on (by, on). With duplicate right timestamps the carry picks
    the max-by-struct row among the tied latest, while an unsalted as-of's
    winner among ties is engine/scan-order-dependent in ANY engine — a
    tied as-of match is not well-posed. Pre-aggregate duplicates (e.g.
    one row per (entity, ts)) when exact cross-engine parity matters; the
    asof_salted catalog query does exactly that and is driver-gate EXACT.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, by)]

    lt = epoch_seconds(left, on)
    rt = epoch_seconds(right, on)
    chunk_l = F.floor(lt / F.lit(float(chunk_span)))
    chunk_r = F.floor(rt / F.lit(float(chunk_span)))

    l_tag = left.withColumn("__chunk", chunk_l)
    r_tag = right.withColumn("__chunk", chunk_r)

    # carry: for each (entity, chunk) that the right side has, its latest
    # row; then for every LATER chunk present on the left, replay the most
    # recent carry. Implemented as: latest right row per (entity, chunk)
    # -> running "latest so far" over the chunk sequence -> shift into the
    # next left chunk(s) via an as-of join on chunk index (small frames:
    # one row per entity-chunk, not per event).
    latest = r_tag.groupBy(by, "__chunk").agg(
        F.max(F.struct(F.col(on).alias("__o"), *right_cols)).alias("__row")
    )
    left_chunks = l_tag.select(by, "__chunk").distinct()
    carry = asof_join(
        left_chunks,
        latest.select(by, "__chunk", "__row"),
        on="__chunk",
        by=by,
        allow_exact_matches=False,  # carry = strictly earlier chunks
        suffix="_c",
    ).filter(F.col("__row").isNotNull())
    carry_rows = carry.select(
        F.col(by),
        F.col("__chunk"),
        F.col("__row.__o").alias(on),
        *[F.col(f"__row.{c}").alias(c) for c in right_cols],
    )
    r_all = r_tag.select(by, "__chunk", on, *right_cols).unionByName(carry_rows)

    # join within the salted key: (entity, chunk) stays a TWO-COLUMN
    # composite key (asof_join supports by=[...]), so there is no string
    # encoding that could collide (e.g. entity 'u1' chunk 2251 vs entity
    # 'u12' chunk 251 under concatenation).
    out = asof_join(
        l_tag,
        r_all,
        on=on,
        by=[by, "__chunk"],
        right_cols=right_cols,
        suffix=suffix,
    )
    return out.drop("__chunk")


def hot_entity_stats(df: DataFrame, entity: str = "entity_id", top: int = 5):
    """Observability helper: row share of the hottest entities (use before
    choosing chunk_span / enabling salting)."""
    total = df.count()
    rows = (
        df.groupBy(entity)
        .count()
        .orderBy(F.desc("count"))
        .limit(top)
        .collect()
    )
    return [(r[entity], r["count"], r["count"] / total) for r in rows]


def hot_key_audit(
    df: DataFrame,
    entity: str = "entity_id",
) -> DataFrame:
    """Distributed skew audit: per-entity row counts rolled into
    floor(log2(count)) buckets — the distribution you read BEFORE
    choosing chunk_span / enabling salting at 10^12 rows (the
    fully-distributed complement to the driver-side hot_entity_stats
    sample above; a 2^30 bucket with one member IS the monster entity).

    Bucket index is computed as length(bin(count)) - 1 — pure integer
    string ops, exact in any engine (never floor(log2()) on a double).
    Two aggregations: the entity-keyed count (the only exchange that
    sees data volume; skew collapses here) and the tiny bucket rollup.

    Returns (log2_bucket, n_entities, n_events, min_count, max_count)."""
    c = df.groupBy(entity).agg(F.count(F.lit(1)).alias("__c"))
    bucket = (F.length(F.bin(F.col("__c"))) - 1).cast("long")
    return (
        c.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum("__c").cast("long").alias("n_events"),
            F.min("__c").cast("long").alias("min_count"),
            F.max("__c").cast("long").alias("max_count"),
        )
    )


def salted_locf(
    df: DataFrame,
    value: str = "value",
    entity: str = "entity_id",
    ts: str = "ts",
    valid_time: float | None = None,
    default: float | None = None,
    out_prefix: str | None = None,
    chunk_span: float = 86400.0,
) -> DataFrame:
    """LOCF decomposed for hot entities — same output columns/semantics as
    backfill.locf, but the expanding last(ignoreNulls) runs per (entity,
    time-chunk) window partition with a per-chunk carry, so a 10^8-row
    entity becomes chunk_count parallel window tasks instead of ONE sorted
    WindowExec partition (the remaining single-giant-entity bottleneck
    after salted_asof_join/salted_expanding_sum).

    Two-pass shape:
    1. within-chunk expanding last(value, ignoreNulls) + last sample time —
       each (entity, chunk) is an independent window partition;
    2. per-chunk LAST non-null sample (one row per entity-chunk) → carried
       across the chunk sequence (last ignoreNulls over strictly EARLIER
       chunks) → joined back; a row falls back to the carry only when its
       own chunk has no earlier sample.

    last() is a selection (no arithmetic), so the result is BIT-IDENTICAL
    to the unsalted locf — tested row-for-row — provided (entity, ts) is
    unique (with duplicate timestamps "the last row" is scan-order-
    dependent in ANY engine; see salted_asof_join's tie caveat).
    """
    p = out_prefix or value
    t = epoch_seconds(df, ts)
    d = df.withColumn("__t", t).withColumn(
        "__chunk", F.floor(F.col("__t") / F.lit(float(chunk_span)))
    )
    v = F.col(value)

    w_in = (
        Window.partitionBy(entity, "__chunk")
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_carried = F.last(v, ignorenulls=True).over(w_in)
    local_last_t = F.last(
        F.when(v.isNotNull(), F.col("__t")), ignorenulls=True
    ).over(w_in)
    d = d.withColumn("__lc", local_carried).withColumn("__lt", local_last_t)

    # pass 2: latest non-null sample per (entity, chunk) — struct max by
    # sample time — then "latest so far over EARLIER chunks" via
    # last(ignoreNulls) on the tiny per-chunk frame
    chunk_last = d.groupBy(entity, "__chunk").agg(
        F.max(
            F.when(v.isNotNull(), F.struct(F.col("__t").alias("t"), v.alias("v")))
        ).alias("__s")
    )
    w_prev = (
        Window.partitionBy(entity)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = chunk_last.select(
        entity,
        "__chunk",
        F.last("__s", ignorenulls=True).over(w_prev).alias("__cs"),
    )
    out = d.join(carry, [entity, "__chunk"], "left")

    carried = F.coalesce(F.col("__lc"), F.col("__cs.v"))
    tsls = F.col("__t") - F.coalesce(F.col("__lt"), F.col("__cs.t"))
    out = out.withColumn(f"{p}_locf", carried).withColumn(
        f"{p}_time_since_sample", tsls
    )
    if valid_time is not None:
        out = out.withColumn(
            f"{p}_locf_expir",
            F.when(tsls > F.lit(float(valid_time)), F.lit(None)).otherwise(
                carried
            ),
        )
    if default is not None:
        out = out.withColumn(
            f"{p}_locf", F.coalesce(F.col(f"{p}_locf"), F.lit(default))
        )
    return out.drop("__t", "__chunk", "__lc", "__lt", "__cs")


def salted_derived_features(
    df: DataFrame,
    value: str = "dss",
    entity: str = "entity_id",
    ts: str = "ts",
    chunk_span: float = 86400.0,
) -> DataFrame:
    """windows.derived_features decomposed for hot entities: every expanding
    aggregate (9 running sums, row count, max, min) computed as
    within-(entity, chunk) window + per-chunk carry — the same two-pass
    scan as salted_expanding_sum, generalized. One within-chunk WindowExec
    + one tiny per-chunk agg/window + one join replaces the single giant
    per-entity WindowExec partition.

    The lag-based per-row terms (diff/rate) cross chunk boundaries via the
    previous chunk's LAST row (t, v), replayed through a per-chunk lag —
    so row-level values are IDENTICAL to the unsalted operator.

    Float caveat (same as salted_expanding_sum): the running-sum TREE
    differs from the single-pass window, so sums agree to ~ulp (exact for
    integer-valued data — the bit-equality tests use that); max/min/count
    and all lag terms are exact. Requires unique (entity, ts) like every
    order-based operator here.
    """
    from mpds_spark.operators.windows import _nan_to_zero

    t = epoch_seconds(df, ts)
    d = df.withColumn("__t", t).withColumn(
        "__chunk", F.floor(F.col("__t") / F.lit(float(chunk_span)))
    )
    v = F.col(value)

    w_row = Window.partitionBy(entity, "__chunk").orderBy("__t")
    w_in = w_row.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_seq = Window.partitionBy(entity).orderBy("__chunk")
    w_prev = w_seq.rowsBetween(Window.unboundedPreceding, -1)

    # chunk-boundary lag carry: previous chunk's last (t, v)
    last_rows = d.groupBy(entity, "__chunk").agg(
        F.max(F.struct(F.col("__t").alias("t"), v.alias("v"))).alias("__lr")
    )
    prev_last = last_rows.select(
        entity, "__chunk", F.lag("__lr").over(w_seq).alias("__plr")
    )
    d = d.join(prev_last, [entity, "__chunk"], "left")

    rn_local = F.row_number().over(w_row)
    lag_v = F.when(rn_local == 1, F.col("__plr.v")).otherwise(
        F.lag(value).over(w_row)
    )
    lag_t = F.when(rn_local == 1, F.col("__plr.t")).otherwise(
        F.lag("__t").over(w_row)
    )
    dv = v - lag_v
    dt = F.col("__t") - lag_t
    abs_diff = F.coalesce(F.abs(dv), F.lit(0.0))
    diff_t = F.coalesce(F.abs(dt), F.lit(1.0))
    signed_diff = F.coalesce(dv, F.lit(0.0))
    abs_rate = abs_diff / diff_t
    rate = signed_diff / diff_t

    tt = F.col("__t")
    terms = {
        "v": v.cast("double"),
        "vt": v * tt,
        "vtt": v * tt * tt,
        "t": tt,
        "tsq": tt * tt,
        "rate": rate,
        "ratet": rate * tt,
        "arate": abs_rate,
        "aratet": abs_rate * tt,
    }
    # materialize term columns first: they contain window expressions (lag),
    # which cannot appear inside an aggregate directly
    for nm, expr in terms.items():
        d = d.withColumn(f"__x_{nm}", expr)

    # pass 1: within-chunk expanding aggregates (one WindowExec)
    for nm in terms:
        d = d.withColumn(f"__l_{nm}", F.sum(f"__x_{nm}").over(w_in))
    d = (
        d.withColumn("__lcnt", rn_local)
        .withColumn("__lmax", F.max(v).over(w_in))
        .withColumn("__lmin", F.min(v).over(w_in))
    )

    # pass 2: per-chunk totals → exclusive running carry (tiny frame)
    tot_aggs = [F.sum(f"__x_{nm}").alias(f"__tot_{nm}") for nm in terms] + [
        F.count(F.lit(1)).alias("__tot_cnt"),
        F.max(v).alias("__tot_max"),
        F.min(v).alias("__tot_min"),
    ]
    totals = d.groupBy(entity, "__chunk").agg(*tot_aggs)
    carry_cols = [
        F.sum(f"__tot_{nm}").over(w_prev).alias(f"__c_{nm}") for nm in terms
    ] + [
        F.sum("__tot_cnt").over(w_prev).alias("__c_cnt"),
        F.max("__tot_max").over(w_prev).alias("__c_max"),
        F.min("__tot_min").over(w_prev).alias("__c_min"),
    ]
    carry = totals.select(entity, "__chunk", *carry_cols)
    out = d.join(carry, [entity, "__chunk"], "left")

    def full(nm: str):
        l, c = F.col(f"__l_{nm}"), F.col(f"__c_{nm}")
        # both-null stays null (all-null prefix — unsalted sum is null too;
        # _nan_to_zero maps it to 0 exactly like the unsalted plan)
        return F.when(l.isNull() & c.isNull(), F.lit(None)).otherwise(
            F.coalesce(l, F.lit(0.0)) + F.coalesce(c, F.lit(0.0))
        )

    line_num = F.col("__lcnt") + F.coalesce(F.col("__c_cnt"), F.lit(0))
    feats = {
        "dss_avg": full("v") / line_num,
        "dss_ht_avg": full("vt") / full("t"),
        "dss_ht_sq_avg": full("vtt") / full("tsq"),
        # greatest/least skip nulls — matches max/min over the union prefix
        "dss_max": F.greatest("__lmax", "__c_max"),
        "dss_min": F.least("__lmin", "__c_min"),
        "dss_rate_avg": full("rate") / line_num,
        "dss_rate_ht_avg": full("ratet") / full("t"),
        "dss_abs_rate_avg": full("arate") / line_num,
        "dss_abs_rate_ht_avg": full("aratet") / full("t"),
    }
    for name, expr in feats.items():
        out = out.withColumn(name, _nan_to_zero(expr))
    return out.select(*df.columns, *feats.keys())


def salted_expanding_sum(
    df: DataFrame,
    value: str,
    entity: str = "entity_id",
    ts: str = "ts",
    chunk_span: float = 86400.0,
    out_col: str = "cumsum",
) -> DataFrame:
    """Expanding (prefix) sum decomposed for hot entities: the classic
    two-pass scan.

    Pass 1 (parallel): within-(entity, time-chunk) expanding sum — each
    chunk is an independent window partition, so a 10^8-row entity becomes
    chunk_count parallel tasks instead of one giant sorted partition.
    Pass 2 (tiny): per-chunk totals → exclusive running total over the
    chunk sequence (one row per entity-chunk) joined back as the carry.

    result = within_chunk_cumsum + carry. Float caveat: the summation
    TREE differs from the single-pass window, so values agree to ~ulp
    (exact for integer-valued data).
    """
    t = epoch_seconds(df, ts)
    chunk = F.floor(t / F.lit(float(chunk_span)))
    d = df.withColumn("__chunk", chunk)

    w_in = (
        Window.partitionBy(entity, "__chunk")
        .orderBy(ts)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("__local", F.sum(value).over(w_in))

    totals = d.groupBy(entity, "__chunk").agg(F.sum(value).alias("__tot"))
    w_ch = (
        Window.partitionBy(entity)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = totals.withColumn(
        "__carry", F.coalesce(F.sum("__tot").over(w_ch), F.lit(0.0))
    ).select(entity, "__chunk", "__carry")

    out = d.join(carry, [entity, "__chunk"], "left").withColumn(
        out_col, F.col("__local") + F.coalesce(F.col("__carry"), F.lit(0.0))
    )
    return out.drop("__chunk", "__local", "__carry")


def salted_trailing_windows(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    entity: str = "entity_id",
    horizons: dict[str, float] | None = None,
    chunk_span: float = 7 * 86400.0,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """windows.trailing_window_features decomposed for hot entities:
    rows are time-chunked into (entity, floor(us/chunk_span)) partitions
    and every row within max(horizon) of a chunk's END is REPLAYED into
    the next chunk as a context-only copy ("boundary-overlap replay",
    same mechanism as salted_asof_join). Because chunk_span >= every
    horizon, a row's trailing window [t-W, t] can only reach into the
    immediately previous chunk — and exactly those rows were replayed —
    so each chunk is self-contained and the giant per-entity WindowExec
    partition becomes bounded per-chunk partitions.

    Counts and INTEGER sums are bit-identical to the unsalted operator
    (context copies live in a different partition than their originals,
    so nothing is double-counted; differential-tested on a 100x hot
    entity incl. exact boundary timestamps). Float sums agree to ~ulp
    (different add tree) — pass integer cents for exactness, as the
    catalog query does.

    Cost: the replay duplicates only rows within max(horizon) of a
    boundary — a W/chunk_span fraction (default 7-day chunks over 24 h
    horizons: <= 1/7th), one (entity, chunk)-keyed exchange total.

    Returns the same schema as trailing_window_features:
    (entity, <extra...>, ts_s, n_<h>/sum_<h> per horizon)."""
    if horizons is None:
        horizons = {"1h": 3600.0, "24h": 86400.0}
    w_max = max(horizons.values())
    if min(horizons.values()) <= 0:
        raise ValueError("horizons must be positive")
    if chunk_span < w_max:
        raise ValueError(
            f"chunk_span ({chunk_span}) must be >= the largest horizon "
            f"({w_max}) so a trailing window spans at most one boundary"
        )
    span_us = int(round(chunk_span * 1_000_000))
    wmax_us = int(round(w_max * 1_000_000))
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    d = df.select(
        F.col(entity), *[F.col(c) for c in extra],
        us.alias("__us"), F.col(value).alias("__v"),
    ).withColumn(
        "__chunk", F.floor(F.col("__us") / F.lit(span_us)).cast("long")
    )
    ctx = (
        d.filter(
            F.col("__us")
            >= (F.col("__chunk") + 1) * F.lit(span_us) - F.lit(wmax_us)
        )
        .withColumn("__chunk", F.col("__chunk") + 1)
        .withColumn("__ctx", F.lit(1))
    )
    full = d.withColumn("__ctx", F.lit(0)).unionByName(ctx)
    cols = [
        F.col(entity), *[F.col(c) for c in extra],
        (F.col("__us").cast("double") / F.lit(1e6)).alias("ts_s"),
    ]
    for name, secs in horizons.items():
        bound = int(round(secs * 1_000_000))
        frame = (
            f"(PARTITION BY {entity}, __chunk ORDER BY __us "
            f"RANGE BETWEEN {bound} PRECEDING AND CURRENT ROW)"
        )
        cols.append(
            F.expr(f"count(*) OVER {frame}").cast("long")
            .alias(f"n_{name}")
        )
        cols.append(F.expr(f"sum(__v) OVER {frame}").alias(f"sum_{name}"))
    # windows must run over real + context rows: select (computes the
    # frames) BEFORE dropping the context copies — filtering first would
    # silently exclude the replayed previous-chunk rows from every frame
    return (
        full.select(*cols, F.col("__ctx"))
        .filter(F.col("__ctx") == 0)
        .drop("__ctx")
    )
