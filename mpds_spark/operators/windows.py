"""Per-entity, time-ordered window operators.

Everything here is pure Spark SQL window expressions — whole-stage-codegen
JVM execution, no Python in the hot path. One logical range exchange on the
entity key feeds every window in a stage (Catalyst reuses the partitioning
across same-keyed windows).

Each operator builds its window columns in one `select` per dependency
level, so it opens one Window node per level: Spark gives every
`withColumn` that holds a window expression its own node, and evaluates a
window expression once per occurrence, even an identical one.
derived_features is two levels (the lag pair, then the expanding
aggregates); lag_lead_diff is one.

Reference parity:
- derived_features  ← dssl/dssFunctionLibrary.R:876-917
  (extractDSSFeaturesForEachPatient: expanding cumsum/cummax windows,
  strictly backward-looking — zero temporal leakage by construction).
- lag_lead_diff     ← dssl/dssFunctionLibrary.R:887-893 (abs_diff_dss, diff_ht)
- interleave_split  ← mpds/DSSL_Training_and_Evaluation.ipynb cell 5
  (before = even positional rows, after = odd), re-expressed as an
  order-derived window (never physical row position).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from mpds_spark.functions.timeutil import epoch_seconds, ieee_div


def entity_window(entity: str = "entity_id", ts: str = "ts") -> WindowSpec:
    return Window.partitionBy(entity).orderBy(ts)


def expanding(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _nan_to_zero(c: Column) -> Column:
    # R parity: res_df[is.na(res_df)] = 0 — in R is.na(NaN) is TRUE, so both
    # SQL NULL and NaN become 0 (but +/-Inf is preserved, as in R).
    return F.when(c.isNull() | F.isnan(c), F.lit(0.0)).otherwise(c)


_LAGS = ("__lag_v", "__lag_t")


def _first_diffs(df: DataFrame, value: str, entity: str, ts: str):
    """One Window node: the previous row's value and epoch time per entity as
    the temporary columns `_LAGS`, and the first differences over them.

    Returns (frame, signed_diff, abs_diff, diff_t). Parity:
    dssFunctionLibrary.R:887-893, where an entity's first row gets diff 0,
    abs_diff 0 and diff_t 1.
    """
    w = entity_window(entity, ts)
    t = epoch_seconds(df, ts)
    lag_v, lag_t = _LAGS
    lagged = df.withColumns(
        {lag_v: F.lag(value, 1).over(w), lag_t: F.lag(t, 1).over(w)}
    )
    dv = F.col(value) - F.col(lag_v)
    dt = t - F.col(lag_t)
    return (
        lagged,
        F.coalesce(dv, F.lit(0.0)),
        F.coalesce(F.abs(dv), F.lit(0.0)),
        F.coalesce(F.abs(dt), F.lit(1.0)),
    )


def lag_lead_diff(
    df: DataFrame,
    value: str,
    entity: str = "entity_id",
    ts: str = "ts",
    prefix: str | None = None,
) -> DataFrame:
    """Per-entity first differences of value and time, from one Window node.

    Parity: dssFunctionLibrary.R:887-893 — first row of each entity gets
    abs_diff=0 and diff_ts=1 (the reference's documented defaults).
    """
    p = prefix or value
    lagged, diff, abs_diff, diff_t = _first_diffs(df, value, entity, ts)
    return lagged.withColumns(
        {f"{p}_diff": diff, f"{p}_abs_diff": abs_diff, "diff_ts": diff_t}
    ).drop(*_LAGS)


def derived_features(
    df: DataFrame,
    value: str = "dss",
    entity: str = "entity_id",
    ts: str = "ts",
) -> DataFrame:
    """The 8 expanding-window per-entity features of the reference.

    Parity: dssl/dssFunctionLibrary.R:876-917 (extractDSSFeaturesForEachPatient).
    All frames are rowsBetween(unboundedPreceding, currentRow): strictly
    backward-looking (leakage-safe). NaN/NULL → 0 as in the reference's
    res_df[is.na(res_df)] = 0.

    A zero divisor gives the reference's IEEE result, not an ANSI error
    (`ieee_div`): two rows of one entity at one ts make that row's rate
    0/0 = NaN, so the rate sums are NaN → 0 from there on; an entity
    whose running Σt is 0 (first row at epoch 0) gets the Σt-weighted
    averages as x/0 = ±Inf, or NaN → 0.

    Scale: two Window nodes over one entity exchange and one sort — the lag
    pair (`_first_diffs`), then every expanding aggregate in one `select`
    over the one frame spec, each computed once. The feature ratios are a
    plain projection on top. O(n) per entity, no self-join.
    """
    lagged, signed_diff, abs_diff, diff_t = _first_diffs(df, value, entity, ts)
    w = entity_window(entity, ts)
    we = expanding(w)
    t = epoch_seconds(df, ts)
    v = F.col(value)
    rate = ieee_div(signed_diff, diff_t)
    abs_rate = ieee_div(abs_diff, diff_t)
    sums = {
        "__dss_s_v": v,
        "__dss_s_vt": v * t,
        "__dss_s_vtt": v * t * t,
        "__dss_s_t": t,
        "__dss_s_tt": t * t,
        "__dss_s_r": rate,
        "__dss_s_rt": rate * t,
        "__dss_s_a": abs_rate,
        "__dss_s_at": abs_rate * t,
    }
    # Spark evaluates every window expression of a select separately, even
    # identical ones, so each aggregate is named once here and the features
    # below refer to the names.
    aggs = {
        "__dss_n": F.row_number().over(w),
        **{k: F.sum(c).over(we) for k, c in sums.items()},
        "__dss_max": F.max(v).over(we),
        "__dss_min": F.min(v).over(we),
    }
    a = {k: F.col(k) for k in aggs}
    feats = {
        "dss_avg": a["__dss_s_v"] / a["__dss_n"],
        "dss_ht_avg": ieee_div(a["__dss_s_vt"], a["__dss_s_t"]),
        "dss_ht_sq_avg": ieee_div(a["__dss_s_vtt"], a["__dss_s_tt"]),
        "dss_max": a["__dss_max"],
        "dss_min": a["__dss_min"],
        "dss_rate_avg": a["__dss_s_r"] / a["__dss_n"],
        "dss_rate_ht_avg": ieee_div(a["__dss_s_rt"], a["__dss_s_t"]),
        "dss_abs_rate_avg": a["__dss_s_a"] / a["__dss_n"],
        "dss_abs_rate_ht_avg": ieee_div(a["__dss_s_at"], a["__dss_s_t"]),
    }
    return (
        lagged.withColumns(aggs)
        .withColumns({k: _nan_to_zero(c) for k, c in feats.items()})
        .drop(*_LAGS, *aggs)
    )


def interleave_split(
    df: DataFrame,
    entity: str = "entity_id",
    ts: str = "ts",
    col_name: str = "phase",
) -> DataFrame:
    """Label alternating rows per entity: 0 = "before", 1 = "after".

    Parity: NB cell 5 iloc[::2]/iloc[1::2] — but order-derived via
    row_number over (entity, ts), never physical position. Adds `pair_id`
    (floor((rn-1)/2)) so before/after rows of the same visit share a key.
    """
    w = entity_window(entity, ts)
    rn = F.row_number().over(w)
    return df.withColumn(col_name, ((rn + 1) % 2).cast("int")).withColumn(
        "pair_id", F.floor((rn - 1) / 2).cast("long")
    )


def series_stats(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
) -> DataFrame:
    """Per-entity sequence kernels that ARE window-expressible — the
    table-level twin of functions/kernels.py's ZCR.m (:sum(abs(diff(
    x>0)))/n), FeatureMeanTKEO.m (mean of interior x_i^2 - x_{i+1}
    x_{i-1}) and FeatureAR1.m (no-intercept OLS of x_i on x_{i-1}),
    computed over the ts-ordered value series of every entity in ONE
    lag/lead window + one grouped aggregation (entity count and series
    length unbounded; the non-window kernels — fastdfa, Lomb-Scargle —
    stay in the Arrow tier).

    Returns (by, n, zcr, tkeo_mean, ar1); tkeo NULL below 3 points, ar1
    NULL below 2 or on a zero denominator, matching the kernels' NaN.
    """
    d = df.select(
        F.col(by), F.col(ts).alias("__ts"), F.col(value).cast("double").alias("__x")
    ).filter(F.col("__x").isNotNull())
    w = Window.partitionBy(by).orderBy("__ts")
    d = d.withColumn("__p", F.lag("__x").over(w)).withColumn(
        "__nx", F.lead("__x").over(w)
    )
    pos = F.col("__x") > 0
    ppos = F.col("__p") > 0
    agg = d.groupBy(by).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__p").isNotNull(),
                        F.abs(pos.cast("int") - ppos.cast("int")),
                    )
                ),
                F.lit(0),
            )
            / F.count(F.lit(1))
        ).alias("zcr"),
        F.avg(
            F.when(
                F.col("__p").isNotNull() & F.col("__nx").isNotNull(),
                F.col("__x") * F.col("__x") - F.col("__nx") * F.col("__p"),
            )
        ).alias("tkeo_mean"),
        F.sum(F.when(F.col("__p").isNotNull(), F.col("__p") * F.col("__x"))).alias("__num"),
        F.sum(F.when(F.col("__p").isNotNull(), F.col("__p") * F.col("__p"))).alias("__den"),
    )
    return agg.select(
        F.col(by),
        "n",
        "zcr",
        "tkeo_mean",
        F.when(F.col("__den") != 0, F.col("__num") / F.col("__den")).alias("ar1"),
    )


def event_burstiness(
    df: DataFrame,
    ts: str = "ts",
    by: str = "entity_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity inter-arrival burstiness B = (sigma - mu)/(sigma + mu)
    and memory coefficient M = corr(gap_i, gap_{i+1}) (Goh & Barabasi,
    EPL 81:48002, 2008) over the ts-ordered event stream — the standard
    temporal-pattern pair for separating Poisson-like activity (B ~ 0)
    from bursty human/bot behaviour (B -> 1) and periodic heartbeats
    (B -> -1), per user, per device, per sensor.

    Cross-engine determinism: gaps are exact MICROSECOND longs
    (unix_micros / epoch_us on a UTC-pinned session); every moment
    (sum g, sum g^2, sum g_i*g_{i+1}, ...) accumulates in DECIMAL(38,0)
    (hugeint in the DuckDB twin) — exact integers, shuffle-order-free —
    and converts to double once, so both engines hit sqrt()/division
    with identical inputs. Population sigma (the paper's convention).

    Shape at scale: one lag window on the entity key + one grouped agg
    that reuses the same partitioning — 1 shuffle total, unbounded
    entity count; a hot entity wants the salted two-pass in
    operators/salting.py like every per-entity window here.

    Returns (by, n_events, mean_gap_s, burstiness_b, memory_m):
    entities with < 2 events drop (no gap); M is NULL below 3 gaps or
    on a constant leg (zero variance)."""
    order = [F.col("__us")] + ([F.col(tiebreak)] if tiebreak else [])
    d = df.select(
        F.col(by),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("__us"),
        *([F.col(tiebreak)] if tiebreak else []),
    )
    w = Window.partitionBy(by).orderBy(*order)
    dec = "decimal(38,0)"
    # the next gap is lead(us) - us, not lead(__g): one Window node
    d = d.withColumns(
        {
            "__g": (F.col("__us") - F.lag("__us").over(w)).cast(dec),
            "__gn": (F.lead("__us").over(w) - F.col("__us")).cast(dec),
        }
    )
    has_pair = F.col("__g").isNotNull() & F.col("__gn").isNotNull()

    def dsum(c):
        return F.coalesce(F.sum(c.cast(dec)), F.lit(0).cast(dec))

    agg = d.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("__g").cast("long").alias("__m"),
        dsum(F.col("__g")).alias("__s1"),
        dsum(F.col("__g") * F.col("__g")).alias("__s2"),
        F.coalesce(
            F.sum(F.when(has_pair, F.lit(1))), F.lit(0)
        ).cast("long").alias("__np"),
        dsum(F.when(has_pair, F.col("__g"))).alias("__sx"),
        dsum(F.when(has_pair, F.col("__gn"))).alias("__sy"),
        dsum(F.when(has_pair, F.col("__g") * F.col("__gn"))).alias("__sxy"),
        dsum(F.when(has_pair, F.col("__g") * F.col("__g"))).alias("__sxx"),
        dsum(F.when(has_pair, F.col("__gn") * F.col("__gn"))).alias("__syy"),
    ).filter(F.col("__m") >= 1)
    m = F.col("__m").cast("double")
    mu = F.col("__s1").cast("double") / m
    var = F.col("__s2").cast("double") / m - mu * mu
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    b = F.when(sigma + mu != 0.0, (sigma - mu) / (sigma + mu))
    np_ = F.col("__np").cast("double")
    covn = np_ * F.col("__sxy").cast("double") - F.col("__sx").cast(
        "double"
    ) * F.col("__sy").cast("double")
    vxn = np_ * F.col("__sxx").cast("double") - F.col("__sx").cast(
        "double"
    ) * F.col("__sx").cast("double")
    vyn = np_ * F.col("__syy").cast("double") - F.col("__sy").cast(
        "double"
    ) * F.col("__sy").cast("double")
    mem = F.when(
        (F.col("__np") >= 3) & (vxn > 0.0) & (vyn > 0.0),
        covn / (F.sqrt(vxn) * F.sqrt(vyn)),
    )
    return agg.select(
        F.col(by),
        "n_events",
        (mu / F.lit(1_000_000.0)).alias("mean_gap_s"),
        b.alias("burstiness_b"),
        mem.alias("memory_m"),
    )


def transition_entropy(
    df: DataFrame,
    state: str = "event_type",
    ts: str = "ts",
    by: str = "entity_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity first-order Markov transition entropy of the ts-ordered
    categorical stream: H(next | cur) = sum_ij (c_ij/N) ln(N_i/c_ij) in
    nats, plus the stationary unigram entropy H(cur) and their ratio
    (predictability: H(next|cur)/H(cur) -> 0 for deterministic flows,
    -> 1 when the next state ignores the current one). The sequence-
    predictability feature behind session-model priors and bot detection.

    Cross-engine determinism: transition counts are exact longs; the two
    entropy sums fold SEQUENTIALLY over the (cur,next)-sorted cell array
    (bounded by |state alphabet|^2 per entity), so no shuffle-order float
    summation on either engine.

    Shape at scale: one entity-keyed shuffle feeds the lag window and the
    (entity,cur,next) count; the fold runs on per-entity cell arrays.
    Entities with < 2 events drop (no transition)."""
    order = [F.col("__ts")] + ([F.col(tiebreak)] if tiebreak else [])
    # states fold through a string-typed accumulator (and the oracle twin
    # sorts cells as varchar), so normalize the alphabet to string up front
    d = df.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        F.col(state).cast("string").alias("__s"),
        *([F.col(tiebreak)] if tiebreak else []),
    )
    w = Window.partitionBy(by).orderBy(*order)
    d = d.withColumn("__p", F.lag("__s").over(w)).filter(
        F.col("__p").isNotNull()
    )
    cells = d.groupBy(by, "__p", "__s").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_e = cells.groupBy(by).agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.array_sort(F.collect_list(F.struct("__p", "__s", "c"))).alias("__cells"),
    )
    # row totals per cur-state from the same sorted array (exact longs)
    row_tot = lambda cur: F.aggregate(  # noqa: E731
        "__cells",
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.when(s["__p"] == cur, s["c"]).otherwise(F.lit(0)),
    )
    n = F.col("n_transitions").cast("double")
    h_cond = F.aggregate(
        "__cells",
        F.lit(0.0),
        lambda acc, s: acc
        + (s["c"].cast("double") / n)
        * F.log(row_tot(s["__p"]).cast("double") / s["c"].cast("double")),
    )
    # unigram entropy of the CURRENT-state marginal: the sorted array
    # groups cells by cur state, so a first-of-run check inside the fold
    # visits each cur exactly once (row_tot rescans the array per cell —
    # O(cells^2) per entity, bounded by |alphabet|^4, alphabet ~ O(10))
    h_cur = F.aggregate(
        "__cells",
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0.0).alias("h"),
        ),
        lambda acc, s: F.struct(
            s["__p"].alias("prev"),
            (
                acc["h"]
                + F.when(
                    acc["prev"].isNull() | (acc["prev"] != s["__p"]),
                    (row_tot(s["__p"]).cast("double") / n)
                    * F.log(n / row_tot(s["__p"]).cast("double")),
                ).otherwise(F.lit(0.0))
            ).alias("h"),
        ),
        lambda acc: acc["h"],
    )
    return per_e.select(
        F.col(by),
        "n_transitions",
        h_cond.alias("h_cond"),
        h_cur.alias("h_cur"),
        F.when(h_cur != 0.0, h_cond / h_cur).alias("predictability_ratio"),
    )


def ewma_features(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    alpha: float = 0.25,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity exponentially-weighted moving average of the ts-ordered
    value stream — the point-in-time momentum feature (s_1 = v_1,
    s_n = (1-alpha) * s_{n-1} + alpha * v_n) plus the last raw value and
    their gap. The classic smoothing the reference's expanding averages
    (dssFunctionLibrary.R:876-917) approximate with cumsum/rank; EWMA
    weights recent behaviour without a window-size knob.

    Cross-engine determinism: the recursion folds SEQUENTIALLY over the
    (ts, tiebreak)-sorted per-entity value array with a single
    `acc*(1-alpha) + v*alpha` double expression — identical IEEE op
    sequence in Spark's `aggregate` and DuckDB's `list_reduce`. Pick
    alpha with an exact binary representation (default 1/4).

    Shape at scale: one entity-keyed shuffle; the fold is O(n) per
    entity DRIVERLESS (array fold inside codegen). The recursion is
    inherently serial per entity, but it composes affinely: a chunk of
    length L maps s_in -> s_in * (1-alpha)^L + B_chunk, so a monstrous
    entity splits into ordered chunks whose (decay, partial) summaries
    combine associatively — the same two-pass salting contract as
    operators/salting.py. At catalog scale the single fold is the right
    plan.

    Returns (by, n_events, last_value, ewma, ewma_gap)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    keep = 1.0 - alpha
    order_cols = [ts] + ([tiebreak] if tiebreak else []) + [value]
    arr = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols]))
    )
    g = df.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.transform(arr, lambda s: s[value].cast("double")).alias("__v"),
    )
    n = F.size("__v")
    ewma = F.aggregate(
        F.slice(F.col("__v"), 2, F.greatest(n - 1, F.lit(0))),
        F.element_at("__v", 1),
        lambda acc, v: acc * F.lit(keep) + v * F.lit(alpha),
    )
    last = F.element_at("__v", -1)
    return g.select(
        F.col(by),
        "n_events",
        last.alias("last_value"),
        ewma.alias("ewma"),
        (last - ewma).alias("ewma_gap"),
    )


def cusum_changepoint(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    tiebreak: str | None = None,
    decimals: int = 2,
) -> DataFrame:
    """Per-entity CUSUM changepoint scan (Page 1954 / Brownian-bridge
    form): S_k = sum_{i<=k}(x_i - xbar); report the location and size of
    max_k |S_k| plus the variance-normalized statistic
    max|S_k| / (sigma * sqrt(n)) whose null distribution is
    sup|Brownian bridge| — the standard level-shift detector for sensor
    drift / behaviour change, per entity.

    Cross-engine determinism: values are scaled to exact integers at
    `decimals` (the same floor(|x|*10^d + 0.5)*sign idiom as
    derived_features), so n*cum_k - k*total is an exact DECIMAL(38,0)
    (hugeint in DuckDB); the argmax is an integer comparison with an
    earliest-k tie-break, and sigma comes from exact integer moments.
    Doubles appear only in the final divisions/sqrts, identically on
    both engines.

    Shape at scale: one entity-keyed shuffle feeds the running-sum
    window, the full-partition total, and the grouped argmax — the
    1-exchange temporal-leg contract. Entities with < 2 events drop.

    Returns (by, n_events, cp_index, cp_ts, cusum_max, cusum_stat):
    cp_index is the 1-based k maximizing |S_k| (earliest on ties),
    cusum_max is |S_k| in value units, cusum_stat is NULL when
    sigma = 0 (constant series)."""
    scale = int(10**decimals)
    order = [F.col("__ts")] + ([F.col(tiebreak)] if tiebreak else [])
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    d = df.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        cents.alias("__c"),
        *([F.col(tiebreak)] if tiebreak else []),
    )
    w = Window.partitionBy(by).orderBy(*order)
    # whole-partition frame on the same ordering: one Window node, and
    # exact counts and decimal sums do not depend on the order
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dec = "decimal(38,0)"
    d = d.select(
        F.col(by),
        F.col("__ts"),
        F.row_number().over(w).cast("long").alias("__k"),
        F.sum(F.col("__c").cast(dec)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__cum"),
        F.count(F.lit(1)).over(full).cast("long").alias("__n"),
        F.sum(F.col("__c").cast(dec)).over(full).alias("__s1"),
        F.sum((F.col("__c") * F.col("__c")).cast(dec)).over(full).alias("__s2"),
    ).filter(F.col("__n") >= 2)
    stat = (
        F.col("__n").cast(dec) * F.col("__cum")
        - F.col("__k").cast(dec) * F.col("__s1")
    )
    d = d.withColumn("__stat", stat)
    best = d.groupBy(by).agg(
        F.max("__n").alias("n_events"),
        F.max("__s1").alias("__s1"),
        F.max("__s2").alias("__s2"),
        F.max(
            F.struct(
                F.abs(F.col("__stat")).alias("a"),
                (-F.col("__k")).alias("nk"),
                F.col("__ts").alias("ts"),
            )
        ).alias("__b"),
    )
    n = F.col("n_events").cast("double")
    a = F.col("__b.a").cast("double")
    # sd_n = sqrt(n*s2 - s1^2): population sigma * scale * n
    sd_n = F.sqrt(
        (
            F.col("n_events").cast(dec) * F.col("__s2")
            - F.col("__s1") * F.col("__s1")
        ).cast("double")
    )
    return best.select(
        F.col(by),
        "n_events",
        (-F.col("__b.nk")).alias("cp_index"),
        F.col("__b.ts").alias("cp_ts"),
        (a / (F.lit(float(scale)) * n)).alias("cusum_max"),
        F.when(sd_n > 0.0, a / (sd_n * F.sqrt(n))).alias("cusum_stat"),
    )


def circular_weights(period: int = 24) -> tuple[list[float], list[float]]:
    """cos/sin weights for the `period` phase bins, computed once on the
    driver and embedded as literals on BOTH engines (Spark lit / SQL list
    literal) — libm cos/sin may differ by 1 ulp between the JVM and
    DuckDB, so neither engine is allowed to evaluate them."""
    import math

    ang = [2.0 * math.pi * h / period for h in range(period)]
    return [math.cos(a) for a in ang], [math.sin(a) for a in ang]


def hourly_seasonality(
    df: DataFrame,
    ts: str = "ts",
    by: str = "entity_id",
) -> DataFrame:
    """Per-entity hour-of-day activity profile as circular statistics:
    resultant length R (0 = uniform over the day, 1 = all activity in one
    hour), circular mean hour, the peak hour, and the night fraction
    (00-06 UTC) — the diurnal-rhythm features separating humans from
    24/7 bots and timezone-consistent from hijacked accounts.

    Cross-engine determinism: per-(entity,hour) counts are exact longs;
    the resultant sums fold SEQUENTIALLY over the hour-sorted cell array
    with count * <driver-computed cos/sin literal> products (see
    circular_weights); sqrt is IEEE-exact. atan2 (circ_mean_h) is the
    one libm call that may differ by 1 ulp across engines — the catalog
    query rounds it to 6 decimals, verified EXACT on the gate.

    Shape at scale: one (entity,hour)-keyed count agg + one entity agg
    over <= 24 cells/entity — skew-immune (the hot-entity row count
    collapses at the first partial agg).

    Returns (by, n_events, peak_hour, peak_frac, resultant_r,
    circ_mean_h, night_frac)."""
    cosw, sinw = circular_weights(24)
    cos_arr = F.array(*[F.lit(x) for x in cosw])
    sin_arr = F.array(*[F.lit(x) for x in sinw])
    cells = (
        df.select(
            F.col(by), F.hour(F.col(ts).cast("timestamp")).alias("__h")
        )
        .groupBy(by, "__h")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    per_e = cells.groupBy(by).agg(
        F.sum("__c").cast("long").alias("n_events"),
        F.array_sort(F.collect_list(F.struct("__h", "__c"))).alias("__cells"),
        F.max(F.struct(F.col("__c").alias("c"), (-F.col("__h")).alias("nh")))
        .alias("__peak"),
        F.coalesce(
            F.sum(F.when(F.col("__h") < 6, F.col("__c"))), F.lit(0)
        ).cast("long").alias("__night"),
    )

    def _fold(weights):
        return F.aggregate(
            "__cells",
            F.lit(0.0),
            lambda acc, s: acc
            + s["__c"].cast("double")
            * F.element_at(weights, s["__h"] + 1),
        )

    n = F.col("n_events").cast("double")
    sc, ss = _fold(cos_arr), _fold(sin_arr)
    two_pi = 6.283185307179586
    circ = F.atan2(ss, sc) * F.lit(24.0 / two_pi)
    return per_e.select(
        F.col(by),
        "n_events",
        (-F.col("__peak.nh")).alias("peak_hour"),
        (F.col("__peak.c").cast("double") / n).alias("peak_frac"),
        (F.sqrt(sc * sc + ss * ss) / n).alias("resultant_r"),
        ((circ + 24.0) % 24.0).alias("circ_mean_h"),
        (F.col("__night").cast("double") / n).alias("night_frac"),
    )


def zscore_outliers(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    threshold: float = 3.0,
    min_prior: int = 5,
    tiebreak: str | None = None,
    decimals: int = 2,
) -> DataFrame:
    """Per-entity expanding z-score anomaly scan, strictly backward-
    looking: each event is scored against the mean/sd of the events
    BEFORE it (never itself — the same zero-leakage discipline as every
    window here), counting |z| > threshold outliers and locating the
    extreme one. The online anomaly flag for sensor glitches / value
    spikes.

    Cross-engine determinism: with x scaled to exact integers at
    `decimals` and m prior points with sums c1, c2, the z-score
    rewrites as (m*x - c1) / sqrt(m*c2 - c1^2) — integer numerator and
    an integer under one sqrt, so the scale factor cancels and both
    engines form identical doubles before any comparison; the argmax
    tie-breaks to the earliest row.

    Shape at scale: one entity-keyed shuffle feeds the prior-frame
    running sums and the grouped rollup. Rows with fewer than
    `min_prior` prior points or zero prior variance are unscored.

    Returns (by, n_events, n_scored, n_outliers, max_abs_z, z_at_max,
    ts_at_max); entities with no scored rows keep NULL max/ts."""
    scale = int(10**decimals)
    order = [F.col("__ts")] + ([F.col(tiebreak)] if tiebreak else [])
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    d = df.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        cents.alias("__c"),
        *([F.col(tiebreak)] if tiebreak else []),
    )
    w = Window.partitionBy(by).orderBy(*order)
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    dec = "decimal(38,0)"
    d = d.select(
        F.col(by),
        "__ts",
        "__c",
        F.row_number().over(w).cast("long").alias("__k"),
        F.coalesce(F.count("__c").over(prior), F.lit(0))
        .cast("long").alias("__m"),
        F.coalesce(F.sum(F.col("__c").cast(dec)).over(prior), F.lit(0).cast(dec))
        .alias("__c1"),
        F.coalesce(
            F.sum((F.col("__c") * F.col("__c")).cast(dec)).over(prior),
            F.lit(0).cast(dec),
        ).alias("__c2"),
    )
    m = F.col("__m").cast(dec)
    var_n = (m * F.col("__c2") - F.col("__c1") * F.col("__c1")).cast("double")
    num = (m * F.col("__c").cast(dec) - F.col("__c1")).cast("double")
    z = F.when(
        (F.col("__m") >= min_prior) & (var_n > 0.0), num / F.sqrt(var_n)
    )
    d = d.withColumn("__z", z)
    scored = F.col("__z").isNotNull()
    return d.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.coalesce(F.sum(F.when(scored, F.lit(1))), F.lit(0))
        .cast("long").alias("n_scored"),
        F.coalesce(
            F.sum(F.when(F.abs(F.col("__z")) > threshold, F.lit(1))),
            F.lit(0),
        ).cast("long").alias("n_outliers"),
        F.max(F.when(scored, F.abs(F.col("__z")))).alias("max_abs_z"),
        F.max(
            F.when(
                scored,
                F.struct(
                    F.abs(F.col("__z")).alias("a"),
                    (-F.col("__k")).alias("nk"),
                    F.col("__z").alias("z"),
                    F.col("__ts").alias("ts"),
                ),
            )
        ).alias("__b"),
    ).select(
        F.col(by),
        "n_events",
        "n_scored",
        "n_outliers",
        "max_abs_z",
        F.col("__b.z").alias("z_at_max"),
        F.col("__b.ts").alias("ts_at_max"),
    )


def value_acf(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    lags: tuple[int, ...] = (1, 2, 3),
    tiebreak: str | None = None,
    decimals: int = 2,
) -> DataFrame:
    """Per-entity sample autocorrelation of the ts-ordered value stream
    at the given lags (standard ACF convention: overall mean and
    variance, r_L = sum(x_i - xbar)(x_{i+L} - xbar) / sum(x_i - xbar)^2)
    — the persistence/periodicity features beside EWMA and burstiness
    (the reference's AR1 kernel, functions/kernels.py, is the L=1
    special case on a different normalization).

    Cross-engine determinism: values scale to exact integers at
    `decimals`; multiplying r_L through by n^2 makes BOTH numerator
    (n^2*sum(c_i*c_{i+L}) - n*s1*(head+tail) + m_L*s1^2) and denominator
    (n^2*s2 - n*s1^2) exact DECIMAL(38,0)/hugeint, converted to double
    once. Exactness bound: n^2*s2 <= 10^38 holds to ~10^8 events/entity
    at 2-decimal values < 10^3 — far beyond any per-entity history here;
    hotter entities belong to the salted two-pass anyway.

    Shape at scale: one entity-keyed shuffle feeds the |lags| lag
    windows and the grouped moment agg. r_L is NULL for entities with
    n <= L rows or zero variance.

    Returns (by, n_events, acf_<L>...)."""
    order = [F.col("__ts")] + ([F.col(tiebreak)] if tiebreak else [])
    scale = int(10**decimals)
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    d = df.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        cents.alias("__c"),
        *([F.col(tiebreak)] if tiebreak else []),
    )
    w = Window.partitionBy(by).orderBy(*order)
    dec = "decimal(38,0)"
    for lag in lags:
        d = d.withColumn(f"__p{lag}", F.lag("__c", lag).over(w))

    def dsum(c):
        return F.coalesce(F.sum(c.cast(dec)), F.lit(0).cast(dec))

    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum(F.col("__c")).alias("__s1"),
        dsum(F.col("__c") * F.col("__c")).alias("__s2"),
    ]
    for lag in lags:
        p = F.col(f"__p{lag}")
        ok = p.isNotNull()
        aggs += [
            F.coalesce(F.sum(F.when(ok, F.lit(1))), F.lit(0))
            .cast("long").alias(f"__m{lag}"),
            dsum(F.when(ok, F.col("__c") * p)).alias(f"__cc{lag}"),
            dsum(F.when(ok, F.col("__c"))).alias(f"__tail{lag}"),
            dsum(F.when(ok, p)).alias(f"__head{lag}"),
        ]
    g = d.groupBy(by).agg(*aggs)
    n = F.col("n_events").cast(dec)
    s1, s2 = F.col("__s1"), F.col("__s2")
    den = (n * n * s2 - n * s1 * s1).cast("double")
    cols = [F.col(by), F.col("n_events")]
    for lag in lags:
        m = F.col(f"__m{lag}").cast(dec)
        num = (
            n * n * F.col(f"__cc{lag}")
            - n * s1 * (F.col(f"__head{lag}") + F.col(f"__tail{lag}"))
            + m * s1 * s1
        ).cast("double")
        cols.append(
            F.when((F.col(f"__m{lag}") >= 1) & (den > 0.0), num / den)
            .alias(f"acf_{lag}")
        )
    return g.select(*cols)


def trailing_window_features(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    horizons: dict[str, float] | None = None,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Multi-horizon BOUNDED trailing time-window count/sum at each event
    — the feature-store "rolling features at event time" beside the
    expanding `derived_features` (reference analogue: the fixed-width
    trend windows feeding extractDSSFeaturesForEachPatient,
    dssl/dssFunctionLibrary.R:876-917, generalized to arbitrary named
    horizons).

    `horizons` maps a suffix to a window width in SECONDS; each horizon
    contributes `n_<name>` (row count) and `sum_<name>` (sum of `value`)
    over RANGE BETWEEN width PRECEDING AND CURRENT ROW. Strictly
    backward-looking — zero temporal leakage by construction.

    Determinism & exactness: the frame orders on exact integer epoch
    MICROSECONDS (never float seconds), widths convert to integer micros,
    and RANGE peers (equal timestamps) are included on both engines per
    the SQL standard — no tie-break column is needed. Callers supply an
    integer `value` (e.g. cents) for bit-exact sums.

    Shape at scale: every horizon shares ONE entity-keyed
    exchange+sort (identical PARTITION BY / ORDER BY => Catalyst reuses
    the window exchange); widening the horizon list adds zero shuffles.
    Range frames are O(1) amortized per row in Spark's sliding window
    frame (two moving pointers), so a 7-day horizon over a hot entity
    costs the same pass as a 1-hour one.

    Returns (by, <extra...>, ts_s epoch-seconds double,
    n_<h>/sum_<h> per horizon)."""
    if horizons is None:
        horizons = {"1h": 3600.0, "24h": 86400.0}
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    d = df.select(
        F.col(by), *[F.col(c) for c in extra],
        us.alias("__us"), F.col(value).alias("__v"),
    )
    cols = [
        F.col(by), *[F.col(c) for c in extra],
        (F.col("__us").cast("double") / F.lit(1e6)).alias("ts_s"),
    ]
    for name, secs in horizons.items():
        bound = int(round(secs * 1_000_000))
        if bound <= 0:
            raise ValueError(f"horizon {name!r} must be positive")
        frame = (
            f"(PARTITION BY {by} ORDER BY __us "
            f"RANGE BETWEEN {bound} PRECEDING AND CURRENT ROW)"
        )
        cols.append(
            F.expr(f"count(*) OVER {frame}").cast("long")
            .alias(f"n_{name}")
        )
        cols.append(F.expr(f"sum(__v) OVER {frame}").alias(f"sum_{name}"))
    return d.select(*cols)


def rank_normalize(
    df: DataFrame,
    value: str = "value",
    by: str = "entity_id",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Rank-based normalization (quantile transform) of `value` within
    each entity: percent_rank = (rank-1)/(n-1) and cume_dist = peers/n —
    the distribution-free feature scaling that survives arbitrary value
    skew where z-scores don't (reference analogue: the 0-100 rescale +
    percentile machinery, dssl/dssFunctionLibrary.R rescale/prctile
    usage, re-expressed as SQL-standard rank windows).

    Determinism: both functions are TIE-STABLE — equal values get equal
    ranks — so no tie-break column is needed, and each output is one
    exact-integer ratio converted to double by a single division
    (identical IEEE op in any engine). `value` should be an exact
    integer (e.g. cents) so cross-engine value ORDER is bit-exact.

    Shape at scale: one entity-keyed exchange; both rank windows share
    the identical PARTITION BY/ORDER BY sort. Per-entity history is the
    partition bound — hot entities belong to the salted two-pass.

    Returns (by, <extra...>, value, pct_rank, cume_dist)."""
    w = Window.partitionBy(by).orderBy(F.col(value))
    return df.select(
        F.col(by), *[F.col(c) for c in extra], F.col(value),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


def rolling_slope(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    k: int = 8,
    decimals: int = 2,
) -> DataFrame:
    """Per-event trailing-k OLS slope of value vs time (the local-trend
    feature beside the expanding rate averages: is this entity's signal
    rising or falling RIGHT NOW, estimated over its last k points only —
    strictly backward, zero leakage).

        beta = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    over the trailing ROWS frame, reported in value-units per day.

    Cross-engine determinism: x = exact microseconds since the entity's
    FIRST event (a per-entity constant offset leaves the slope invariant
    but keeps the integer products small), y = exact integers at
    `decimals`; every frame sum and both the numerator and denominator
    are exact DECIMAL(38,0)/hugeint, converted to double for ONE
    division, then one multiply by the exact literal 8.64e8
    (micros/day / cents-scale). Exactness bound: n*Sxx <= 10^38 holds to
    ~10^12-microsecond (≈12-day) frame spans at k <= 10^4 — frames are
    k-row-bounded, so the bound scales with event density, not history
    length.

    Shape at scale: ONE entity-keyed exchange — the first-event offset
    window, the k-row trailing frame sums and nothing else; no joins, no
    second shuffle. NULL for frames with n < 2 (degenerate fit).

    Returns df columns + (x_first offsets dropped) n_frame, slope_per_day.
    """
    scale = int(10**decimals)
    per_day = 86400e6 / scale  # micros/day over the integer value scale
    w = Window.partitionBy(by).orderBy("__us")
    we = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(-(int(k) - 1), Window.currentRow)
    dec = "decimal(38,0)"
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    d = (
        df.withColumn("__us", F.unix_micros(F.col(ts).cast("timestamp")))
        .withColumn("__y", cents)
        .withColumn("__x", F.col("__us") - F.first("__us").over(we))
    )
    xd, yd = F.col("__x").cast(dec), F.col("__y").cast(dec)
    d = d.withColumns(
        {
            "__n": F.count(F.lit(1)).over(wf).cast("long"),
            "__sx": F.sum(xd).over(wf),
            "__sy": F.sum(yd).over(wf),
            "__sxy": F.sum(xd * yd).over(wf),
            "__sxx": F.sum(xd * xd).over(wf),
        }
    )
    n = F.col("__n").cast(dec)
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    den = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    slope = F.when(
        (F.col("__n") >= 2) & (den > 0.0),
        (num / den) * F.lit(per_day),
    )
    return d.withColumn("slope_per_day", slope).withColumn(
        "n_frame", F.col("__n").cast("int")
    ).drop("__us", "__x", "__y", "__n", "__sx", "__sy", "__sxy", "__sxx")


def haar_energy(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    n: int = 8,
    decimals: int = 2,
) -> DataFrame:
    """Unnormalized Haar wavelet energy decomposition of each entity's
    first `n` (= 2^L) values: detail coefficients are pairwise
    DIFFERENCES, approximations pairwise SUMS (the 1/sqrt(2) factors are
    dropped so every coefficient — and therefore every energy — is an
    EXACT integer over the cents grid; the normalized energies are a
    fixed per-level power-of-two rescale the consumer can apply). The
    multi-resolution energy split (fast vs slow variation mass) is the
    wavelet sibling of the ZCR/TKEO/Lomb kernels in functions/kernels.py
    (reference battery parity: extractAccelTestV2.m window statistics).

    Shape at scale: ONE entity-keyed exchange — a row_number window to
    take each entity's first n events (ties broken by the order column
    list) and a groupBy fold to a sorted n-array (subset rule: same
    key); all level arithmetic is JVM array expressions on the bounded
    array. Entities with fewer than n events are dropped (declared).

    Returns (by, level energies e1..eL detail, approx_sq) — exact longs.
    """
    L = int(n).bit_length() - 1
    if 1 << L != int(n) or L < 1:
        raise ValueError(f"n={n} is not a power of two >= 2")
    scale = int(10**decimals)
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    w = Window.partitionBy(by).orderBy("__us", "__y")
    d = (
        df.select(F.col(by), us.alias("__us"), cents.alias("__y"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n))
    )
    arr = (
        d.groupBy(by)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__rn", "__y"))
            ).alias("__a"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .filter(F.col("__cnt") == int(n))
        .select(by, F.transform("__a", lambda s: s["__y"]).alias("__x"))
    )
    out = arr
    cur = F.col("__x")
    sel = [F.col(by)]
    for lev in range(1, L + 1):
        half = (1 << L) >> lev
        idx = F.sequence(F.lit(0), F.lit(half - 1))
        detail = F.transform(
            idx,
            lambda i: F.element_at(cur, 2 * i + 1)
            - F.element_at(cur, 2 * i + 2),
        )
        approx = F.transform(
            idx,
            lambda i: F.element_at(cur, 2 * i + 1)
            + F.element_at(cur, 2 * i + 2),
        )
        energy = F.aggregate(
            detail,
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        )
        out = out.withColumn(f"e{lev}", energy).withColumn(
            f"__a{lev}", approx
        )
        cur = F.col(f"__a{lev}")
        sel.append(F.col(f"e{lev}"))
    sel.append(
        (
            F.element_at(cur, 1) * F.element_at(cur, 1)
        ).alias("approx_sq")
    )
    return out.select(*sel)


def decayed_counts(
    df: DataFrame,
    by: str = "entity_id",
    ts: str = "ts",
    half_life_days: float = 7.0,
    tiebreak: tuple = (),
) -> DataFrame:
    """Exponentially-decayed event counter per entity at the corpus
    boundary (the recency-weighted activity feature fraud/engagement
    models consume: an event half_life_days old contributes 1/2, twice
    that 1/4, ...):

        decayed = sum_i exp((t_i - t_now) * ln(2) / half_life)

    Cross-engine determinism: t_now is a broadcast 1-row corpus-max fit
    (registered BNLJ-by-design); the decay constant is ONE embedded
    double literal (computed once driver-side, identical parse in the
    oracle); each term is exp of an exact-integer-microseconds
    difference scaled by that literal; and the per-entity sum folds a
    (ts, tiebreak)-sorted array left to right on BOTH engines, pinning
    float summation order (the token_entropy convention).

    Shape at scale: ONE entity-keyed aggregation; the fold is array-
    side. Returns (by, n_events, decayed_count).
    """
    c = math.log(2.0) / (float(half_life_days) * 86400e6)
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    d = df.select(F.col(by), us.alias("__us"), *tiebreak)
    mx = d.agg(F.max("__us").alias("__mx"))
    d = d.crossJoin(F.broadcast(mx))
    term_src = F.struct(F.col("__us"), *[F.col(t) for t in tiebreak])
    arr = d.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.array_sort(F.collect_list(term_src)).alias("__a"),
        F.max("__mx").alias("__m"),
    )
    decayed = F.aggregate(
        F.col("__a"),
        F.lit(0.0),
        lambda acc, s: acc
        + F.exp((s["__us"] - F.col("__m")).cast("double") * F.lit(c)),
    )
    return arr.select(by, "n_events", decayed.alias("decayed_count"))


def max_drawdown(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    decimals: int = 2,
    tiebreak: tuple = (),
) -> DataFrame:
    """Maximum drawdown of each entity's cumulative value stream (the
    risk/health feature: worst peak-to-trough fall of the running
    total). Everything is exact integer cents — running sum, running
    max, and their difference — so the gate is exact with no float
    folds at all.

    Shape at scale: ONE entity-keyed exchange shared by the two running
    windows (cumsum + cummax) and the final per-entity rollup (subset
    rule). Returns (by, n_events, final_cents, peak_cents,
    max_drawdown_cents).
    """
    scale = int(10**decimals)
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    d = df.select(
        F.col(by), us.alias("__us"), cents.alias("__y"), *tiebreak
    )
    w = Window.partitionBy(by).orderBy("__us", *tiebreak)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = (
        d.withColumn("__cum", F.sum("__y").over(wc).cast("long"))
        .withColumn("__peak", F.max("__cum").over(wc).cast("long"))
        .withColumn("__dd", F.col("__peak") - F.col("__cum"))
    )
    return d.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("__y").cast("long").alias("final_cents"),
        F.max("__peak").cast("long").alias("peak_cents"),
        F.max("__dd").cast("long").alias("max_drawdown_cents"),
    )


def activity_streaks(
    df: DataFrame,
    by: str = "entity_id",
    ts: str = "ts",
) -> DataFrame:
    """Longest consecutive-day activity streak per entity (the
    engagement feature), via gaps-and-islands over distinct active
    days: day - row_number(day) is constant exactly within a
    consecutive run, so one distinct + one window + two rollups give
    every streak without a self-join.

    All values exact longs. Shape at scale: one (entity, day)-keyed
    distinct exchange + one entity-keyed exchange shared by the
    row_number window and both rollups (subset rule) — two exchanges
    total, no self-join.

    Returns (by, n_active_days, n_streaks, longest_streak,
    current_streak_end_day).
    """
    days = df.select(
        F.col(by), F.expr(
            f"unix_micros(cast({ts} as timestamp)) div 86400000000"
        ).alias("__day")
    ).distinct()
    w = Window.partitionBy(by).orderBy("__day")
    runs = days.withColumn(
        "__anchor", F.col("__day") - F.row_number().over(w)
    )
    streaks = runs.groupBy(by, "__anchor").agg(
        F.count(F.lit(1)).cast("long").alias("__len"),
        F.max("__day").alias("__end"),
    )
    return streaks.groupBy(by).agg(
        F.sum("__len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("__len").cast("long").alias("longest_streak"),
        F.max("__end").cast("long").alias("current_streak_end_day"),
    )


def theil_sen(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    decimals: int = 2,
) -> DataFrame:
    """Per-entity Theil-Sen robust trend: the exact median of ALL
    pairwise slopes (y_j - y_i)/(x_j - x_i), i<j, of the entity's
    (time, value) series — the breakdown-point-0.29 alternative to the
    OLS slope (rolling_slope) that a single corrupted reading cannot
    drag (Theil 1950 / Sen 1968; reference analogue: the robust
    scaling + median machinery around dssl/dssFunctionLibrary.R's
    prctile usage applied to trend estimation).

    Cross-engine determinism: x = exact event microseconds, y = exact
    integers at `decimals`; every slope is ONE double division of two
    exactly-representable integer differences (identical IEEE op), the
    median is pure selection over the sorted slope multiset — element
    (n+1) div 2 and (n+2) div 2, averaged — so even-count medians are
    one add + one halving of the same two doubles on any engine, and
    tie ORDER among equal slopes cannot move the value. The final
    per-day rescale is one multiply by an exact power-of-ten-scaled
    literal.

    Shape at scale: ONE entity-keyed exchange into a collect_list; the
    O(n^2) pair expansion runs INSIDE the JVM on the per-entity sorted
    array (nested `transform`, no self-join, nothing quadratic ever
    crosses the wire). Per-entity history is the bound — n events yield
    n(n-1)/2 slopes in one task; cap the series (or sample pairs)
    beyond ~10^4 events/entity, where the dedicated salted two-pass
    operators take over.

    Returns (by, n_obs, n_pairs, slope_per_day) for entities with
    >= 2 observations."""
    scale = int(10**decimals)
    per_day = 86400e6 / scale
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    d = df.select(
        F.col(by),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("__x"),
        cents.alias("__y"),
    )
    g = (
        d.groupBy(by)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__x").alias("x"), F.col("__y").alias("y"))
                )
            ).alias("__a"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
        .where(F.col("n_obs") >= 2)
    )
    g = g.withColumn(
        "__s",
        F.expr(
            "array_sort(flatten(transform(__a, (p, i) -> "
            "transform(slice(__a, i + 2, size(__a)), q -> "
            "cast(q.y - p.y as double) / cast(q.x - p.x as double)))))"
        ),
    )
    med = F.expr(
        "(element_at(__s, cast((size(__s) + 1) div 2 as int))"
        " + element_at(__s, cast((size(__s) + 2) div 2 as int))) / 2.0"
    )
    return g.select(
        F.col(by),
        "n_obs",
        F.expr("n_obs * (n_obs - 1) div 2").cast("long").alias("n_pairs"),
        (med * F.lit(per_day)).alias("slope_per_day"),
    )


def sax_symbols(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    n_segments: int = 8,
    decimals: int = 2,
) -> DataFrame:
    """SAX symbolization (Lin, Keogh, Lonardi & Chiu, DMKD 2003): each
    entity's ts-ordered series → PAA segment means → z-scored against
    the entity's own population moments → a 4-letter-alphabet word
    ('a' < -0.6745 <= 'b' < 0 <= 'c' < 0.6745 <= 'd', the N(0,1)
    quartile breakpoints). The shape-index feature that makes
    similarity search over raw series tractable — two entities with
    the same SAX word are rolling-pattern candidates.

    Segment assignment: point rn (1-based) of n goes to segment
    (rn-1)*W div n — every segment non-empty for n >= W, degenerate
    series (n < W) get shorter words.

    Determinism: per-segment sums/counts and per-entity moments are
    exact integers at `decimals`; each z is a fixed 3-division
    expression over once-cast doubles (the cents scale cancels inside
    the z-score, so no rescale ever happens); breakpoint comparisons on
    identical doubles; the word is a position-ordered concat — the
    OUTPUT IS A STRING, gated exactly. A zero-variance entity z-scores
    to NaN, which compares false on every `<` and lands every segment
    on the top symbol in both engines (documented, not reachable on
    real cent streams).

    Shape at scale: one scan and one entity exchange. A single window
    pass computes rn plus the entity moments (count, sum, sum of
    squares); the (entity, segment) agg carries the moments along with
    each segment's (count, sum), and one final entity agg builds the
    word. Both aggs reuse the window's entity partitioning. Per-entity
    history bounds the window partition — the salting contract applies
    beyond.

    Returns (by, n_obs, sax)."""
    scale = int(10**decimals)
    W = int(n_segments)
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * scale + F.lit(0.5))
    ).cast("long")
    w = Window.partitionBy(by).orderBy(F.col(ts))
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = F.col("__c").cast("decimal(38,0)")
    d = df.select(F.col(by), F.col(ts), cents.alias("__c")).withColumns(
        {
            "__rn": F.row_number().over(w),
            "__n": F.count(F.lit(1)).over(full),
            "__sx": F.sum(c).over(full),
            "__sxx": F.sum(c * c).over(full),
        }
    )
    seg = d.groupBy(
        F.col(by),
        F.expr(f"(__rn - 1) * {W} div __n").alias("__seg"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.sum("__c").cast("long").alias("__sc"),
        # constant per entity: carried, not re-aggregated
        *(F.max(m).alias(m) for m in ("__n", "__sx", "__sxx")),
    )
    nd = F.col("__n").cast("double")
    mu = F.col("__sx").cast("double") / nd
    var = (
        F.col("__n").cast("decimal(38,0)") * F.col("__sxx")
        - F.col("__sx") * F.col("__sx")
    ).cast("double") / (nd * nd)
    z = (
        (F.col("__sc").cast("double") / F.col("__k").cast("double")) - mu
    ) / F.sqrt(var)
    sym = (
        F.when(z < F.lit(-0.6745), F.lit("a"))
        .when(z < F.lit(0.0), F.lit("b"))
        .when(z < F.lit(0.6745), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    per_seg = seg.select(
        F.col(by), F.col("__seg"), F.col("__n"), sym.alias("__sym")
    )
    return per_seg.groupBy(by).agg(
        F.max("__n").alias("n_obs"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(__seg, __sym))), x -> x.__sym)"
            ),
            "",
        ).alias("sax"),
    )


def holt_trend(
    df: DataFrame,
    value: str = "value",
    ts: str = "ts",
    by: str = "entity_id",
    alpha: float = 0.25,
    beta: float = 0.125,
    decimals: int = 2,
) -> DataFrame:
    """Holt double exponential smoothing (Holt 1957): the level+trend
    recursion l_t = a*y_t + (1-a)(l_{t-1} + b_{t-1}),
    b_t = B(l_t - l_{t-1}) + (1-B) b_{t-1}, seeded l_1 = y_1, b_1 = 0 —
    EWMA's companion when the stream drifts: the one-step-ahead
    forecast l+b tracks a trending entity where flat EWMA lags forever.

    Cross-engine determinism: the fold runs SEQUENTIALLY over the
    ts-sorted per-entity array with a (level, trend) accumulator —
    Spark `aggregate` with named_struct vs DuckDB `list_reduce`, the
    level expression written out verbatim inside the trend update on
    BOTH engines so the IEEE op sequence is identical. The DuckDB twin
    must carry the state as a 2-element LIST, not a struct: DuckDB 1.0
    evaluates struct-result lambdas field-sequentially, rebinding
    acc.<field> to the just-computed value inside later fields, which
    silently turns the coupled recursion into a different (wrong) one.
    alpha/beta default to exact binary fractions. Inputs fold as exact
    integer cents (cast once to double); the only rescales are three
    final power-of-ten divisions.

    Shape at scale: one entity-keyed shuffle, O(n) serial fold per
    entity inside codegen (same contract as ewma_features — affine
    chunk composition is the salting path for monstrous entities).

    Returns (by, n_events, level, trend, forecast_1)."""
    scale = float(10**decimals)
    a, b = float(alpha), float(beta)
    cents = (
        F.signum(F.col(value))
        * F.floor(F.abs(F.col(value)) * F.lit(scale) + F.lit(0.5))
    ).cast("long")
    d = df.select(F.col(by), F.col(ts).alias("__t"), cents.alias("__c"))
    g = d.groupBy(by).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(__t, __c))), "
            "x -> cast(x.__c as double))"
        ).alias("__vs"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    lnew = f"{a!r}D * v + {1 - a!r}D * (acc.l + acc.b)"
    fold = F.expr(
        "aggregate(slice(__vs, 2, size(__vs) - 1), "
        "named_struct('l', element_at(__vs, 1), 'b', cast(0.0 as double)), "
        f"(acc, v) -> named_struct('l', {lnew}, "
        f"'b', {b!r}D * (({lnew}) - acc.l) + {1 - b!r}D * acc.b))"
    )
    g = g.withColumn("__st", fold)
    lv = F.col("__st.l") / F.lit(scale)
    tr = F.col("__st.b") / F.lit(scale)
    fc = (F.col("__st.l") + F.col("__st.b")) / F.lit(scale)
    return g.select(
        F.col(by), "n_events",
        lv.alias("level"), tr.alias("trend"), fc.alias("forecast_1"),
    )


def burst_detect(
    df: DataFrame,
    ts: str = "ts",
    by: str = "entity_id",
    t_on_us: int = 2 * 3600 * 1000000,
    t_off_us: int = 10 * 3600 * 1000000,
) -> DataFrame:
    """Hysteresis burst segmentation of each entity's event stream: a
    burst OPENS when an inter-event gap drops to <= `t_on_us` and
    CLOSES only when a gap reaches >= `t_off_us` — the two-threshold
    (Schmitt-trigger) rule that a single cutoff can't express: brief
    mid-burst pauses between t_on and t_off do NOT split the burst,
    which is exactly the flapping single-threshold segmentation
    suffers (cheap, deterministic stand-in for Kleinberg 2002's
    two-state burst automaton).

    Counting convention (mirrored verbatim in the oracle): an opening
    gap counts BOTH its endpoints into the burst; every in-burst
    continuation gap (< t_off) counts its later endpoint; the closing
    gap's later endpoint is outside. State is three exact integers
    (in_burst, n_bursts, events_in_burst) folded over the ts-sorted
    gap array — the only float in the output is one final percentage
    division.

    Shape at scale: ONE entity-keyed exchange, O(n) integer fold per
    entity inside codegen. DuckDB twin folds a LIST accumulator (see
    holt_trend's struct-rebinding hazard).

    Returns (by, n_events, n_bursts, events_in_burst, burst_pct)."""
    on, off = int(t_on_us), int(t_off_us)
    d = df.select(
        F.col(by),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("__t"),
    )
    g = d.groupBy(by).agg(
        F.array_sort(F.collect_list("__t")).alias("__ts"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    gaps = F.expr(
        "transform(slice(__ts, 2, size(__ts) - 1), "
        "(t, i) -> t - element_at(__ts, i + 1))"
    )
    fold = F.expr(
        f"""aggregate(__g,
        array(0L, 0L, 0L),
        (acc, g) -> CASE
          WHEN acc[0] = 0L AND g <= {on}L
            THEN array(1L, acc[1] + 1L, acc[2] + 2L)
          WHEN acc[0] = 1L AND g < {off}L
            THEN array(1L, acc[1], acc[2] + 1L)
          WHEN acc[0] = 1L THEN array(0L, acc[1], acc[2])
          ELSE acc END)"""
    )
    g = g.withColumn("__g", gaps).withColumn("__s", fold)
    return g.select(
        F.col(by),
        "n_events",
        F.expr("__s[1]").alias("n_bursts"),
        F.expr("__s[2]").alias("events_in_burst"),
        (
            F.lit(100.0) * F.expr("__s[2]").cast("double")
            / F.col("n_events").cast("double")
        ).alias("burst_pct"),
    )
