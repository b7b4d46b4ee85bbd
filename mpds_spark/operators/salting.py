"""Skew handling for hot entities.

Two mechanisms, matching how each operator class scales:

1. The as-of join and every pure window operator are sort-based and
   streaming: a hot entity is one WindowExec partition that SPILLS rather
   than OOMs, so they need no salting to be correct — AQE skew-join
   splitting covers the join legs. (Verified by the hot-entity smoke
   test.) The expanding and trailing window features therefore have no
   salted variant; windows.derived_features and
   windows.trailing_window_features are the only implementations.

2. Where one sort partition per entity is itself too large,
   salted_asof_join bounds the as-of scan's sort partition: it
   splits each entity's LEFT rows into time-range chunks of bounded size
   and replays the single latest RIGHT row before each chunk boundary into
   the chunk ("boundary-overlap replay"), so every chunk is self-contained
   for a backward as-of scan keyed on (entity, chunk). Result is provably
   identical to the unsalted join (differential-tested), with one
   WindowExec partition per chunk instead of per entity. salted_locf
   does the same for LOCF's expanding last(ignoreNulls).

hot_key_audit reads the per-entity count distribution, fully
distributed, before a chunk span is chosen.
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


def hot_key_audit(
    df: DataFrame,
    entity: str = "entity_id",
) -> DataFrame:
    """Distributed skew audit: per-entity row counts rolled into
    floor(log2(count)) buckets — the distribution you read BEFORE
    choosing chunk_span / enabling salting at 10^12 rows (a 2^30
    bucket with one member IS the monster entity).

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
    after salted_asof_join).

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
