"""Driver-facing query catalog: one entry per implemented operator, each with
a DuckDB oracle-SQL twin (same column names, same semantics).

Conventions shared by Spark and SQL sides (so the driver's order-insensitive
value-hash matches):
- entity key = events.user_id, event time = events.ts (unique per user —
  verified at all SFs), deterministic window order = (ts).
- every float column that passes through an order-sensitive float reduction
  (group-by avg/sum, range-frame sums) is rounded to 6 decimals on BOTH
  sides; integer-exact or order-deterministic values are left exact.
- time distances are epoch-second doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mpds_spark.functions.timeutil import duck_round
from mpds_spark.operators.asof import asof_join, time_since_event
from mpds_spark.operators.backfill import locf
from mpds_spark.operators.pairs import smoothness_pairs
from mpds_spark.operators.scale import fit_robust_scaler, rescale_scores
from mpds_spark.operators.sessionize import (
    event_response,
    interval_join,
    remove_short_on_intervals,
    sessionize,
    unite_adjacent_on_intervals,
)
from mpds_spark.operators.windows import (
    derived_features,
    interleave_split,
    lag_lead_diff,
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the oracle compares epoch seconds against DuckDB's naive-UTC epoch():
    # pin the session tz so TIMESTAMP_NTZ -> TIMESTAMP casts are UTC even on
    # a driver-created session that didn't set it
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events")


def _r6(c):
    return duck_round(c, 6)


# ---------------------------------------------------------------- queries

def q_derived_features(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        F.col("value").alias("dss"),
    )
    out = derived_features(ev, value="dss")
    # dss_avg recomputed from exact integer cents: the data is 2-decimal, so
    # float cumsums divided by power-of-two row counts land exactly on
    # 6-decimal rounding boundaries where 1-ulp engine differences flip the
    # rounded digit. Integer sums are exact in both engines.
    w = Window.partitionBy("entity_id").orderBy("ts")
    cents = (
        F.signum("dss") * F.floor(F.abs(F.col("dss")) * 100 + F.lit(0.5))
    ).cast("long")
    cs_c = F.sum(cents).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn(
        "dss_avg", (cs_c / F.lit(100.0)) / F.row_number().over(w)
    )
    return out.select(
        "event_id",
        *[
            _r6(c).alias(c)
            for c in (
                "dss_avg",
                "dss_ht_avg",
                "dss_ht_sq_avg",
                "dss_max",
                "dss_min",
                "dss_rate_avg",
                "dss_abs_rate_avg",
            )
        ],
    )


SQL_DERIVED = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t, value AS dss FROM events
), d AS (
  SELECT event_id, user_id, t, dss,
    row_number() OVER w AS rn,
    sum(CAST(floor(abs(dss)*100 + 0.5)*sign(dss) AS BIGINT)) OVER we AS cs_c,
    sum(t) OVER we AS cs_t,
    sum(t*t) OVER we AS cs_t2,
    sum(dss) OVER we AS cs_d,
    sum(dss*t) OVER we AS cs_dt,
    sum(dss*t*t) OVER we AS cs_dt2,
    max(dss) OVER we AS cmax,
    min(dss) OVER we AS cmin,
    coalesce(abs(dss - lag(dss) OVER w), 0) AS adiff,
    coalesce(dss - lag(dss) OVER w, 0) AS sdiff,
    coalesce(abs(t - lag(t) OVER w), 1) AS dt
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t),
         we AS (PARTITION BY user_id ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), f AS (
  SELECT event_id, rn, cs_c, cs_t, cs_t2, cs_d, cs_dt, cs_dt2, cmax, cmin,
    sum(sdiff/dt) OVER we AS cs_rate,
    sum(adiff/dt) OVER we AS cs_arate
  FROM d
  WINDOW we AS (PARTITION BY user_id ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id,
  round((cs_c / 100.0) / rn, 6) AS dss_avg,
  round(cs_dt / cs_t, 6)   AS dss_ht_avg,
  round(cs_dt2 / cs_t2, 6) AS dss_ht_sq_avg,
  round(cmax, 6)           AS dss_max,
  round(cmin, 6)           AS dss_min,
  round(cs_rate / rn, 6)   AS dss_rate_avg,
  round(cs_arate / rn, 6)  AS dss_abs_rate_avg
FROM f
"""


def q_locf(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    out = locf(ev, value="v", valid_time=3600.0)
    return out.select(
        "event_id",
        F.col("v_locf").alias("locf"),
        _r6("v_time_since_sample").alias("time_since_sample"),
        F.col("v_locf_expir").alias("locf_expir"),
    )


SQL_LOCF = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM events
), d AS (
  SELECT event_id, t,
    last_value(v IGNORE NULLS) OVER we AS locf,
    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER we AS last_t
  FROM e
  WINDOW we AS (PARTITION BY user_id ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, locf,
  round(t - last_t, 6) AS time_since_sample,
  CASE WHEN t - last_t > 3600 THEN NULL ELSE locf END AS locf_expir
FROM d
"""


def q_locf_salted(spark, sf_dir):
    """The SALTED LOCF path through the driver gate (VERDICT r2 #3): locf
    semantics executed via salted_locf with a 90-day chunk span (several
    chunks per entity, chunk-prefix carry exercised at sf scale). The
    oracle is the PLAIN LOCF SQL — the driver gate certifies
    salted == unsalted == oracle, like asof_salted does for the as-of."""
    from mpds_spark.operators.salting import salted_locf

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    out = salted_locf(ev, value="v", valid_time=3600.0, chunk_span=90 * 86400.0)
    return out.select(
        "event_id",
        F.col("v_locf").alias("locf"),
        _r6("v_time_since_sample").alias("time_since_sample"),
        F.col("v_locf_expir").alias("locf_expir"),
    )


def q_time_since_purchase(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
    )
    out = time_since_event(ev, include_forward=True, leakage_ok=True)
    return out.select(
        "event_id",
        _r6("time_since_last_event").alias("t_since_last"),
        _r6("time_since_first_event").alias("t_since_first"),
        _r6("time_to_next_event").alias("t_to_next"),
    )


SQL_TIME_SINCE = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ev
  FROM events
)
SELECT event_id,
  round(t - max(CASE WHEN ev = 1 THEN t END) OVER
    (PARTITION BY user_id ORDER BY t
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 6) AS t_since_last,
  round(t - min(CASE WHEN ev = 1 THEN t END) OVER
    (PARTITION BY user_id ORDER BY t
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 6) AS t_since_first,
  round(min(CASE WHEN ev = 1 THEN t END) OVER
    (PARTITION BY user_id ORDER BY t
     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) - t, 6) AS t_to_next
FROM e
"""


def q_sessionize(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
    )
    s = sessionize(ev, gap=1800.0)
    return s.groupBy(
        F.col("entity_id").alias("user_id"), F.col("session_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _r6(F.min("ts")).alias("t_start"),
        _r6(F.max("ts")).alias("t_end"),
        _r6(F.sum("value")).alias("sum_value"),
    )


SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id, epoch(ts) AS t, value FROM events
), g AS (
  SELECT user_id, t, value,
    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM e
), d AS (
  SELECT user_id, t, value,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
  round(min(t), 6) AS t_start, round(max(t), 6) AS t_end,
  round(sum(value), 6) AS sum_value
FROM d GROUP BY user_id, session_id
"""


def q_asof_purchase(spark, sf_dir):
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(clicks, purchases, on="ts", by="entity_id")
    return out.select(
        "event_id",
        F.col("purchase_value"),
        _r6("ts_r").alias("purchase_ts"),
    )


SQL_ASOF_PURCHASE = """
WITH c AS (
  SELECT event_id, user_id, epoch(ts) AS t FROM events
  WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch(ts) AS t, value FROM events
  WHERE event_type = 'purchase'
)
SELECT c.event_id, p.value AS purchase_value, round(p.t, 6) AS purchase_ts
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t >= p.t
"""


def q_asof_orders(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderdate").cast("timestamp").cast("double").alias("ts"),
        "o_totalprice",
    )
    out = asof_join(ev, orders, on="ts", by="entity_id")
    return out.select(
        "event_id",
        F.col("o_totalprice").alias("last_order_price"),
        _r6("ts_r").alias("last_order_ts"),
    )


SQL_ASOF_ORDERS = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t FROM events
), o AS (
  SELECT o_custkey, epoch(o_orderdate) AS t, o_totalprice FROM orders
)
SELECT e.event_id, o.o_totalprice AS last_order_price,
       round(o.t, 6) AS last_order_ts
FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.t >= o.t
"""


def q_lag_lead(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
    )
    out = lag_lead_diff(ev, "value")
    return out.select(
        "event_id",
        _r6("value_diff").alias("value_diff"),
        _r6("value_abs_diff").alias("value_abs_diff"),
        _r6("diff_ts").alias("diff_ts"),
    )


SQL_LAG_LEAD = """
WITH e AS (SELECT event_id, user_id, epoch(ts) AS t, value FROM events)
SELECT event_id,
  round(coalesce(value - lag(value) OVER w, 0), 6) AS value_diff,
  round(coalesce(abs(value - lag(value) OVER w), 0), 6) AS value_abs_diff,
  round(coalesce(abs(t - lag(t) OVER w), 1), 6) AS diff_ts
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
"""


def q_interval_join(spark, sf_dir):
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"), "ts"
    )
    obs = ev.select(F.col("user_id").alias("entity_id"), "ts", "value")
    # purchases are a small filtered trigger set (~2% of events) -> broadcast
    out = interval_join(purchases, obs, wind=3600.0, broadcast_events=True)
    return out.select(
        F.col("entity_id").alias("user_id"),
        F.col("event_ts").cast("timestamp").cast("double").alias("event_ts"),
        "n_obs",
        _r6("avg_value").alias("avg_value"),
    )


SQL_INTERVAL_JOIN = """
WITH p AS (
  SELECT user_id, epoch(ts) AS et FROM events WHERE event_type = 'purchase'
), e AS (
  SELECT user_id, epoch(ts) AS t, value FROM events
)
SELECT p.user_id, p.et AS event_ts, count(*) AS n_obs,
       round(avg(e.value), 6) AS avg_value
FROM p JOIN e ON e.user_id = p.user_id AND e.t > p.et AND e.t <= p.et + 3600
GROUP BY p.user_id, p.et
"""


def q_smoothness_pairs(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
    )
    out = smoothness_pairs(ev, ["value"])
    return out.select(
        "event_id",
        _r6("value_pair_diff").alias("value_pair_diff"),
        _r6("pair_diff_ts").alias("pair_diff_ts"),
    )


SQL_SMOOTHNESS = """
WITH e AS (SELECT event_id, user_id, epoch(ts) AS t, value FROM events)
SELECT event_id,
  round(lead(value) OVER w - value, 6) AS value_pair_diff,
  round(lead(t) OVER w - t, 6) AS pair_diff_ts
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
QUALIFY lead(t) OVER w IS NOT NULL
"""


def q_interleave(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
    )
    out = interleave_split(ev)
    return out.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n"),
        _r6(F.sum("value")).alias("sum_value"),
    )


SQL_INTERLEAVE = """
WITH e AS (
  SELECT user_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY epoch(ts)) AS rn
  FROM events
)
SELECT (rn + 1) % 2 AS phase, count(*) AS n, round(sum(value), 6) AS sum_value
FROM e GROUP BY 1
"""


def q_per_user_max(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.max("value").alias("max_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_PER_USER_MAX = """
SELECT user_id, max(value) AS max_value, count(*) AS n_events
FROM events GROUP BY user_id
"""


def q_remove_short(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        (F.col("value") > 15).cast("int").alias("signal"),
    )
    out = remove_short_on_intervals(ev, time_th=1200.0, leakage_ok=True)
    return out.select("event_id", "signal", "signal_clean")


SQL_REMOVE_SHORT = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t,
         CASE WHEN value > 15 THEN 1 ELSE 0 END AS sig
  FROM events
), x AS (
  SELECT *, CASE WHEN sig = 1 AND coalesce(lag(sig)
      OVER (PARTITION BY user_id ORDER BY t), 0) = 0
      THEN 1 ELSE 0 END AS rising
  FROM e
), r AS (
  SELECT *, sum(rising)
      OVER (PARTITION BY user_id ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM x
), g AS (
  SELECT *, CASE WHEN sig = 1 THEN rid END AS run_key FROM r
), d AS (
  SELECT *, max(t) OVER wr - min(t) OVER wr AS dur
  FROM g WINDOW wr AS (PARTITION BY user_id, run_key)
)
SELECT event_id, sig AS signal,
  CASE WHEN run_key IS NOT NULL AND dur >= 1200 THEN 1 ELSE 0 END AS signal_clean
FROM d
"""


def q_unite_adjacent(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        (F.col("value") > 15).cast("int").alias("signal"),
    )
    out = unite_adjacent_on_intervals(ev, union_th=1200.0, leakage_ok=True)
    return out.select("event_id", "signal", "signal_united")


SQL_UNITE_ADJACENT = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t,
         CASE WHEN value > 15 THEN 1 ELSE 0 END AS sig
  FROM events
), d AS (
  SELECT *,
    max(CASE WHEN sig = 1 THEN t END) OVER
      (PARTITION BY user_id ORDER BY t
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_on,
    min(CASE WHEN sig = 1 THEN t END) OVER
      (PARTITION BY user_id ORDER BY t
       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_on
  FROM e
)
SELECT event_id, sig AS signal,
  CASE WHEN sig = 1 OR (prev_on IS NOT NULL AND next_on IS NOT NULL
                        AND next_on - prev_on <= 1200)
       THEN 1 ELSE 0 END AS signal_united
FROM d
"""


def q_event_response(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("event"),
    )
    out = event_response(
        ev, value="value", event="event", wind=3600.0, leakage_ok=True
    )
    return out.select(
        "event_id",
        "num_before",
        "num_after",
        _r6("avg_before").alias("avg_before"),
        _r6("avg_after").alias("avg_after"),
    )


SQL_EVENT_RESPONSE = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ev
  FROM events
), s AS (
  SELECT *,
    (lag(value) OVER w + value) / 2 * (t - lag(t) OVER w) AS seg,
    t - lag(t) OVER w AS dt
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
), d AS (
  SELECT *,
    count(t) OVER wp - 1 AS n_post,
    sum(seg) OVER wp - coalesce(seg, 0) AS num_post,
    sum(dt) OVER wp - coalesce(dt, 0) AS den_post
  FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY t
                       RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING)
)
SELECT event_id,
  CASE WHEN n_post >= 1 THEN 1 END AS num_before,
  CASE WHEN n_post >= 1 THEN n_post + 1 END AS num_after,
  CASE WHEN n_post >= 1 THEN round(value, 6) END AS avg_before,
  CASE WHEN n_post >= 1 THEN round(num_post / den_post, 6) END AS avg_after
FROM d WHERE ev = 1
"""


def q_robust_scale(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_id", "value")
    params = fit_robust_scaler(ev, ["value"])
    med, iqr = params["value"]
    return ev.select(
        "event_id",
        _r6((F.col("value") - F.lit(med)) / F.lit(iqr)).alias("value_scaled"),
    )


SQL_ROBUST_SCALE = """
WITH p AS (
  SELECT quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
  FROM events
)
SELECT event_id, round((value - med) / iqr, 6) AS value_scaled
FROM events, p
"""


def q_rescale_scores(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_id", F.col("value").alias("score"))
    out, _ = rescale_scores(ev, score="score")
    return out.select("event_id", _r6("mpds").alias("mpds"))


SQL_RESCALE = """
WITH p AS (
  SELECT quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.85) - quantile_cont(value, 0.15) AS iqr
  FROM events
)
SELECT event_id,
  round(least(greatest(50 * (value - med) / iqr + 50, 0), 100), 6) AS mpds
FROM events, p
"""


def q_dedup_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("keep_doc_id"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def q_token_count(spark, sf_dir):
    return token_count(load(spark, sf_dir, "documents"))


SQL_TOKEN_COUNT = """
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est
FROM documents
"""


def q_quality_score(spark, sf_dir):
    q = quality_score(load(spark, sf_dir, "documents"))
    return q.select(
        "doc_id",
        "n_words",
        _r6("avg_word_len").alias("avg_word_len"),
        _r6("stopword_ratio").alias("stopword_ratio"),
        _r6("distinct_ratio").alias("distinct_ratio"),
    )


SQL_QUALITY = """
WITH t AS (
  SELECT doc_id,
    regexp_split_to_array(trim(text), '\\s+') AS words,
    length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
  len(words) AS n_words,
  round(n_chars / len(words), 6) AS avg_word_len,
  round(len(list_filter(words,
    w -> w IN ('the','a','of','and','to','in','is','for'))) * 1.0
    / len(words), 6) AS stopword_ratio,
  round(len(list_distinct(words)) * 1.0 / len(words), 6) AS distinct_ratio
FROM t
"""


def _rewrite_rounds(sql: str) -> str:
    """Replace round(expr, 6) in oracle SQL with the exact floor-based
    half-away-from-zero formula the Spark side uses (duck_round), so both
    engines perform the identical IEEE double ops — no round-tie drift."""
    out = []
    i = 0
    token = "round("
    while True:
        j = sql.find(token, i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        depth = 1
        k = j + len(token)
        while depth:
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        inner = sql[j + len(token) : k - 1]
        body, _, digits = inner.rpartition(",")
        assert digits.strip() == "6", inner
        out.append(
            f"(floor(abs({body})*1000000.0 + 0.5)/1000000.0*sign({body}))"
        )
        i = k
    return "".join(out)

QUERIES = {
    "derived_features": q_derived_features,
    "locf": q_locf,
    "locf_salted": q_locf_salted,
    "time_since_purchase": q_time_since_purchase,
    "sessionize": q_sessionize,
    "asof_purchase": q_asof_purchase,
    "asof_orders": q_asof_orders,
    "lag_lead": q_lag_lead,
    "interval_join": q_interval_join,
    "smoothness_pairs": q_smoothness_pairs,
    "interleave": q_interleave,
    "per_user_max": q_per_user_max,
    "remove_short": q_remove_short,
    "unite_adjacent": q_unite_adjacent,
    "event_response": q_event_response,
    "robust_scale": q_robust_scale,
    "rescale_scores": q_rescale_scores,
    "dedup_exact": q_dedup_exact,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
}

_RAW_ORACLES = {
    "derived_features": SQL_DERIVED,
    "locf": SQL_LOCF,
    "locf_salted": SQL_LOCF,  # salted == unsalted == oracle (the gate point)
    "time_since_purchase": SQL_TIME_SINCE,
    "sessionize": SQL_SESSIONIZE,
    "asof_purchase": SQL_ASOF_PURCHASE,
    "asof_orders": SQL_ASOF_ORDERS,
    "lag_lead": SQL_LAG_LEAD,
    "interval_join": SQL_INTERVAL_JOIN,
    "smoothness_pairs": SQL_SMOOTHNESS,
    "interleave": SQL_INTERLEAVE,
    "per_user_max": SQL_PER_USER_MAX,
    "remove_short": SQL_REMOVE_SHORT,
    "unite_adjacent": SQL_UNITE_ADJACENT,
    "event_response": SQL_EVENT_RESPONSE,
    "robust_scale": SQL_ROBUST_SCALE,
    "rescale_scores": SQL_RESCALE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "token_count": SQL_TOKEN_COUNT,
    "quality_score": SQL_QUALITY,
}


# ------------------------------------------------- training-pipeline ops

from mpds_spark.operators.dedup import (  # noqa: E402
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
)
from mpds_spark.operators.pairs import ordering_pairs  # noqa: E402
from mpds_spark.operators.similarity import cosine_topk, lsh_cosine_topk  # noqa: E402
from mpds_spark.operators.text import (  # noqa: E402
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from mpds_spark.operators.backfill import interpolate  # noqa: E402

_SHINGLE_SQL = """
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(words) - 1),
           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents)
  WHERE len(words) >= 3
"""


def q_ngram_jaccard(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, threshold=0.05)
    return out.select("doc_a", "doc_b", "n_common", _r6("jaccard").alias("jaccard"))


SQL_NGRAM_JACCARD = f"""
WITH e AS ({_SHINGLE_SQL}),
sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM e a JOIN e b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
  round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM c
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.05
"""


def q_minhash_signature(spark, sf_dir):
    return minhash_signature(load(spark, sf_dir, "documents"), k=8)


SQL_MINHASH = f"""
WITH e AS ({_SHINGLE_SQL})
SELECT doc_id,
  {", ".join(f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8))}
FROM e GROUP BY doc_id
"""


def q_lsh_candidates(spark, sf_dir):
    return lsh_candidate_pairs(load(spark, sf_dir, "documents"), k=8, band_size=2)


SQL_LSH_CANDIDATES = f"""
WITH e AS ({_SHINGLE_SQL}),
sig AS (
  SELECT doc_id,
    {", ".join(f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8))}
  FROM e GROUP BY doc_id
),
b AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {bi} AS band, h{2*bi} || '|' || h{2*bi+1} AS bh FROM sig"
      for bi in range(4))}
)
SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
FROM b a JOIN b c USING (band, bh) WHERE a.doc_id < c.doc_id
"""

def q_doc_fingerprint(spark, sf_dir):
    return doc_fingerprint(load(spark, sf_dir, "documents"), n=5)


SQL_FINGERPRINT = """
WITH e AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(words) - 3),
           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                || ' ' || words[i+3] || ' ' || words[i+4]))) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents)
  WHERE len(words) >= 5
)
SELECT doc_id, min(md5(shingle)) AS fp_min, max(md5(shingle)) AS fp_max,
       count(*) AS n_shingles
FROM e GROUP BY doc_id
"""


def q_lang_id(spark, sf_dir):
    return lang_id(load(spark, sf_dir, "documents"))


SQL_LANG_ID = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
), s AS (
  SELECT doc_id, len(words) AS n_words,
    len(list_filter(words, x -> x IN ('the','and','of','to','is'))) AS n_en,
    len(list_filter(words, x -> x IN ('der','die','und','ist','das'))) AS n_de,
    len(list_filter(words, x -> x IN ('le','la','et','est','les'))) AS n_fr,
    len(list_filter(words, x -> x IN ('el','la','los','es','una'))) AS n_es
  FROM w
)
SELECT doc_id, n_words, n_en, n_de, n_fr, n_es,
  CASE WHEN n_en = g AND g > 0 THEN 'en'
       WHEN n_de = g AND g > 0 THEN 'de'
       WHEN n_fr = g AND g > 0 THEN 'fr'
       WHEN n_es = g AND g > 0 THEN 'es'
       ELSE 'und' END AS lang_pred
FROM (SELECT *, greatest(n_en, n_de, n_fr, n_es) AS g FROM s)
"""


def q_ann_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    return out.select(
        "query_id", "neighbor_id", _r6("cosine").alias("cosine"), "rank"
    )


SQL_ANN_COSINE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 5
), v AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS vv FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
    list_dot_product(qv, vv) / sqrt(list_dot_product(qv, qv))
      / sqrt(list_dot_product(vv, vv)) AS cosine
  FROM q, v WHERE query_id <> neighbor_id
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM r WHERE rank <= 3
"""


def q_ann_lsh_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    out = lsh_cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, bits=4)
    return out.select(
        "query_id", "neighbor_id", _r6("cosine").alias("cosine"), "rank"
    )


SQL_ANN_LSH = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS code
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, code FROM base WHERE vec_id < 5
), s AS (
  SELECT query_id, b.vec_id AS neighbor_id,
    list_dot_product(qv, b.v) / sqrt(list_dot_product(qv, qv))
      / sqrt(list_dot_product(b.v, b.v)) AS cosine
  FROM q JOIN base b USING (code) WHERE query_id <> b.vec_id
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM r WHERE rank <= 3
"""


def q_interpolate(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    out = interpolate(ev, value="v", default=0.0, leakage_ok=True)
    return out.select("event_id", _r6("v_interp").alias("v_interp"))


SQL_INTERPOLATE = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM events
), m AS (
  SELECT *,
    min(t) OVER pw AS t_first, max(t) OVER pw AS t_last,
    count(v) OVER pw AS n_val,
    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val
  FROM e WINDOW pw AS (PARTITION BY user_id)
), p AS (
  SELECT *, CASE WHEN v IS NOT NULL THEN v
                 WHEN n_val = 0 THEN 0.0
                 WHEN t = t_last THEN last_val
                 WHEN t = t_first THEN 0.0
            END AS v2
  FROM m
), d AS (
  SELECT *,
    last_value(v2 IGNORE NULLS) OVER wp AS yp,
    last_value(CASE WHEN v2 IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS xp,
    first_value(v2 IGNORE NULLS) OVER wf AS yn,
    first_value(CASE WHEN v2 IS NOT NULL THEN t END IGNORE NULLS) OVER wf AS xn
  FROM p
  WINDOW wp AS (PARTITION BY user_id ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id,
  round(CASE WHEN v2 IS NOT NULL THEN v2
             ELSE (yn * (t - xp) + yp * (xn - t)) / (xn - xp) END, 6) AS v_interp
FROM d
"""


def q_ordering_pairs(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
    )
    out = ordering_pairs(ev, ["value"])
    return out.select(
        "event_id",
        _r6("value_pair_diff").alias("value_pair_diff"),
        _r6("pair_diff_ts").alias("pair_diff_ts"),
    )


SQL_ORDERING_PAIRS = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t, value,
    row_number() OVER w AS rn,
    lead(value) OVER w AS next_v,
    lead(t) OVER w AS next_t
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts))
)
SELECT event_id,
  round(next_v - value, 6) AS value_pair_diff,
  round(next_t - t, 6) AS pair_diff_ts
FROM e WHERE rn % 2 = 1 AND next_t IS NOT NULL
"""


QUERIES.update(
    {
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_signature": q_minhash_signature,
        "lsh_candidates": q_lsh_candidates,
        "doc_fingerprint": q_doc_fingerprint,
        "lang_id": q_lang_id,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "interpolate": q_interpolate,
        "ordering_pairs": q_ordering_pairs,
    }
)
_RAW_ORACLES.update(
    {
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "minhash_signature": SQL_MINHASH,
        "lsh_candidates": SQL_LSH_CANDIDATES,
        "doc_fingerprint": SQL_FINGERPRINT,
        "lang_id": SQL_LANG_ID,
        "ann_cosine_topk": SQL_ANN_COSINE,
        "ann_lsh_topk": SQL_ANN_LSH,
        "interpolate": SQL_INTERPOLATE,
        "ordering_pairs": SQL_ORDERING_PAIRS,
    }
)


# ------------------------------------------------- SURVEY §2 long tail

from mpds_spark.operators.pairs import cross_stage_pairs, pair_diff  # noqa: E402
from mpds_spark.operators.scale import (  # noqa: E402
    apply_center_rescale,
    fit_center_rescale,
)


def q_pair_diff(spark, sf_dir):
    """Pair-table materialized diff (calculateDiffMatrix parity): the k-th
    purchase of each user paired with their k-th click."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").cast("timestamp").cast("double"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("k", F.row_number().over(w))
        .select("user_id", "k", F.col("event_id").alias("on_key"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("k", F.row_number().over(w))
        .select("user_id", "k", F.col("event_id").alias("off_key"))
    )
    pairs = purchases.join(clicks, ["user_id", "k"]).select("on_key", "off_key")
    data = ev.select("event_id", "value")
    out = pair_diff(pairs, data, key="event_id", cols=["value"])
    return out.select("on_key", "off_key", _r6("value_diff").alias("value_diff"))


SQL_PAIR_DIFF = """
WITH p AS (
  SELECT user_id, event_id AS on_key, value AS v_on,
    row_number() OVER (PARTITION BY user_id ORDER BY epoch(ts)) AS k
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id AS off_key, value AS v_off,
    row_number() OVER (PARTITION BY user_id ORDER BY epoch(ts)) AS k
  FROM events WHERE event_type = 'click'
)
SELECT on_key, off_key, round(v_on - v_off, 6) AS value_diff
FROM p JOIN c USING (user_id, k)
"""


def q_cross_stage_pairs(spark, sf_dir):
    """Theta pairs (generateBalancedPairs parity): stage = event_id % 4 over
    purchase rows, same-user pairs with stage_on > stage_off and time gap
    >= 1h, aggregated."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    d = ev.select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        (F.col("event_id") % 4).alias("stage"),
    )
    pairs = cross_stage_pairs(d, key="event_id", min_ht_gap=3600.0)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        _r6(F.avg(F.col("on_stage") - F.col("off_stage"))).alias("avg_stage_gap"),
    )


SQL_CROSS_STAGE = """
WITH p AS (
  SELECT event_id, user_id, epoch(ts) AS t, event_id % 4 AS stage
  FROM events WHERE event_type = 'purchase'
)
SELECT count(*) AS n_pairs,
  round(avg(a.stage - b.stage), 6) AS avg_stage_gap
FROM p a JOIN p b
  ON a.user_id = b.user_id AND a.stage > b.stage AND abs(a.t - b.t) >= 3600
"""


def q_event_response_prepost(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("event"),
    )
    out = event_response(
        ev, value="value", event="event", wind=3600.0, pre_post=True,
        leakage_ok=True,
    )
    return out.select(
        "event_id",
        "num_before",
        "num_after",
        _r6("avg_before").alias("avg_before"),
        _r6("avg_after").alias("avg_after"),
        _r6("avg_now").alias("avg_now"),
        _r6("trend_before").alias("trend_before"),
        _r6("trend_after").alias("trend_after"),
    )


SQL_EVENT_RESPONSE_PREPOST = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ev
  FROM events
), s AS (
  SELECT *,
    (lag(value) OVER w + value) / 2 * (t - lag(t) OVER w) AS seg,
    t - lag(t) OVER w AS dt
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
), d AS (
  SELECT *,
    count(t) OVER wp - 1 AS n_post,
    sum(seg) OVER wp - coalesce(seg, 0) AS num_post,
    sum(dt) OVER wp - coalesce(dt, 0) AS den_post,
    count(t) OVER wb - 1 AS n_pre,
    sum(seg) OVER wb - coalesce(first_value(seg) OVER wb, 0) AS num_pre,
    sum(dt) OVER wb - coalesce(first_value(dt) OVER wb, 0) AS den_pre
  FROM s
  WINDOW wp AS (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING),
         wb AS (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
)
SELECT event_id,
  CASE WHEN ok THEN n_pre + 1 END AS num_before,
  CASE WHEN ok THEN n_post END AS num_after,
  CASE WHEN ok THEN round(num_pre / den_pre, 6) END AS avg_before,
  CASE WHEN ok THEN round(num_post / den_post, 6) END AS avg_after,
  CASE WHEN ok THEN round(value, 6) END AS avg_now,
  CASE WHEN ok THEN round(value - num_pre / den_pre, 6) END AS trend_before,
  CASE WHEN ok THEN round(num_post / den_post - value, 6) END AS trend_after
FROM (SELECT *, n_pre >= 1 AND n_post >= 1 AS ok FROM d) WHERE ev = 1
"""


def q_topk_users(spark, sf_dir):
    """Per-user max + global top-10 (dssPerformanceEvaluation.R:49-58,
    NB cell 20 head(30) parity).

    Scale shape: orderBy+limit compiles to TakeOrderedAndProject (per-
    partition heap + driver merge of 10-row heads) instead of a single-
    partition global window over every user; the rank window then runs on
    the surviving <=10 rows only. Plan pinned in test_plan_budgets."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(F.max("value").alias("max_value"))
    top = agg.orderBy(F.col("max_value").desc(), F.col("user_id")).limit(10)
    w = Window.orderBy(F.col("max_value").desc(), F.col("user_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "user_id", "max_value")
    )


SQL_TOPK = """
WITH a AS (SELECT user_id, max(value) AS max_value FROM events GROUP BY 1)
SELECT rank, user_id, max_value FROM (
  SELECT *, row_number() OVER (ORDER BY max_value DESC, user_id) AS rank
  FROM a
) WHERE rank <= 10
"""


def q_histogram_lift(spark, sf_dir):
    """20-bucket histogram of value + cumulative lift (dssFunctionLibrary
    1779-1796 parity: hist + cumsum ratios).

    One ACTION (was 3): the (min, max) fit is a broadcast-joined 1-row
    subquery instead of a driver collect, and the total comes from a window
    sum over the tiny 20-row counts frame instead of a third scan."""
    ev = _events(spark, sf_dir)
    mm = ev.agg(
        F.min("value").alias("__lo"), F.max("value").alias("__hi")
    )
    b = F.least(
        F.floor(
            (F.col("value") - F.col("__lo"))
            / (F.col("__hi") - F.col("__lo"))
            * 20
        ).cast("int"),
        F.lit(19),
    )
    counts = (
        ev.join(F.broadcast(mm))
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return counts.withColumn(
        "cum_ratio",
        _r6(F.sum("n").over(w) / F.sum("n").over(w_all).cast("double")),
    ).select("bucket", "n", "cum_ratio")


SQL_HISTOGRAM = """
WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
b AS (
  SELECT least(CAST(floor((value - lo) / (hi - lo) * 20) AS INT), 19) AS bucket
  FROM events, mm
), c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1)
SELECT bucket, n,
  round(sum(n) OVER (ORDER BY bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    / CAST((SELECT count(*) FROM events) AS DOUBLE), 6) AS cum_ratio
FROM c
"""


def q_value_counts(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_VALUE_COUNTS = "SELECT event_type, count(*) AS n FROM events GROUP BY 1"


def q_set_ops(spark, sf_dir):
    """Distinct-set union/intersect/except cardinalities in ONE job:
    one scan of events, one shuffle on user_id (bool_or per side), one
    conditional-count agg — replaces the naive 3-actions/3-scans plan
    (was the only reason a trivial query cost 3.7 s in the r1 bench)."""
    ev = _events(spark, sf_dir)
    sides = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "purchase").alias("__p"),
            F.max(F.col("event_type") == "click").alias("__c"),
        )
    )
    return sides.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.count(F.when(F.col("__p") & F.col("__c"), 1)).alias("n_intersect"),
        F.count(F.when(F.col("__p") & ~F.col("__c"), 1)).alias("n_except"),
    )


SQL_SET_OPS = """
WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
SELECT
  (SELECT count(*) FROM (SELECT * FROM p UNION SELECT * FROM c)) AS n_union,
  (SELECT count(*) FROM (SELECT * FROM p INTERSECT SELECT * FROM c)) AS n_intersect,
  (SELECT count(*) FROM (SELECT * FROM p EXCEPT SELECT * FROM c)) AS n_except
"""


def q_discrete_entropy_mi(spark, sf_dir):
    """Table-level discrete entropy + MI (InfoTheory parity at table scale):
    x = event_type, y = (value > 15). H from value counts; MI = Hx+Hy-Hxy.

    ONE grouped job (was 4 actions / 4 scans): a single groupBy(x, y) pass
    produces the joint cell counts; marginals and the total are window sums
    over the TINY |X|x|Y| cell frame, and each marginal entropy folds back
    to a sum over cells: H(X) = -sum_cells (c/n)*log2(cx/n), because the
    cells of one x group to (cx/n)*log2(cx/n)."""
    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("x"),
        (F.col("value") > 15).cast("int").alias("y"),
    )
    cells = ev.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    cells = (
        cells.withColumn("n", F.sum("c").over(Window.partitionBy()))
        .withColumn("cx", F.sum("c").over(Window.partitionBy("x")))
        .withColumn("cy", F.sum("c").over(Window.partitionBy("y")))
    )
    p = F.col("c") / F.col("n").cast("double")
    raw = cells.agg(
        F.sum(-p * F.log2(F.col("cx") / F.col("n").cast("double"))).alias("hx"),
        F.sum(-p * F.log2(F.col("cy") / F.col("n").cast("double"))).alias("hy"),
        F.sum(-p * F.log2(p)).alias("hxy"),
    )
    return raw.select(
        _r6(F.col("hx")).alias("h_x"),
        _r6(F.col("hy")).alias("h_y"),
        _r6(F.col("hx") + F.col("hy") - F.col("hxy")).alias("mi_xy"),
    )


SQL_ENTROPY_MI = """
WITH e AS (
  SELECT event_type AS x, CASE WHEN value > 15 THEN 1 ELSE 0 END AS y
  FROM events
), n AS (SELECT count(*)::DOUBLE AS n FROM e),
hx AS (SELECT sum(-(c/n)*log2(c/n)) AS h
       FROM (SELECT x, count(*)::DOUBLE AS c FROM e GROUP BY 1), n),
hy AS (SELECT sum(-(c/n)*log2(c/n)) AS h
       FROM (SELECT y, count(*)::DOUBLE AS c FROM e GROUP BY 1), n),
hxy AS (SELECT sum(-(c/n)*log2(c/n)) AS h
        FROM (SELECT x, y, count(*)::DOUBLE AS c FROM e GROUP BY 1, 2), n)
SELECT round(hx.h, 6) AS h_x, round(hy.h, 6) AS h_y,
       round(hx.h + hy.h - hxy.h, 6) AS mi_xy
FROM hx, hy, hxy
"""


def q_column_medians(spark, sf_dir):
    """Per-column medians with manual overrides (mimicUsefulFunction.R
    583-628 parity: apply(dataMat,2,medianNA) + override dict)."""
    from mpds_spark.operators.scale import exact_quantiles_bracketed

    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    overrides = {"l_tax": 0.04}
    # exact medians via bracketed selection (approx bracket + exact ranks):
    # high-cardinality columns make the one-reducer `percentile` map merge
    # the bottleneck (and a non-starter at 10^12 rows)
    med = exact_quantiles_bracketed(li, cols, p=0.5)
    vals = [
        (c, float(overrides.get(c, med[c])))
        for c in cols
    ]
    return spark.createDataFrame(vals, "col_name string, median_val double").select(
        "col_name", _r6("median_val").alias("median_val")
    )


SQL_COLUMN_MEDIANS = """
SELECT col_name, round(median_val, 6) AS median_val FROM (
  SELECT 'l_quantity' AS col_name, quantile_cont(l_quantity, 0.5) AS median_val FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', quantile_cont(l_extendedprice, 0.5) FROM lineitem
  UNION ALL
  SELECT 'l_discount', quantile_cont(l_discount, 0.5) FROM lineitem
  UNION ALL
  SELECT 'l_tax', 0.04 FROM lineitem LIMIT 4
)
"""


def q_center_rescale(spark, sf_dir):
    """calculateCenteringAndRescalingDataForMatrix parity on lineitem."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    params = fit_center_rescale(li, ["l_quantity"])
    out = apply_center_rescale(li, params)
    return out.select(
        "l_orderkey", "l_linenumber", _r6("l_quantity").alias("q_scaled")
    )


SQL_CENTER_RESCALE = """
WITH p AS (
  SELECT avg(l_quantity) AS m, min(l_quantity) AS lo, max(l_quantity) AS hi
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
  round((l_quantity - m) / (hi - lo), 6) AS q_scaled
FROM lineitem, p
"""


def q_sampled_pairs_det(spark, sf_dir):
    """Deterministic pseudo-sampled user pairs (subsampleSetOfPossiblePairs
    parity — true seeded sampling is engine-specific, so the catalog variant
    selects ~1/37 of ordered pairs by a portable hash predicate).

    The predicate is SPLITTABLE by design: pair (u1, u2) is sampled iff
    (h(u1) + h(u2)) % 37 == 0 with h(u) = md5-derived per-user hash mod 37.
    Each side then carries its own bucket h(u) and the pair condition
    becomes the EQUI-join h(u2) == (37 - h(u1)) % 37 — a hash/sort-merge
    join, not the O(U^2)-compute BroadcastNestedLoopJoin that a pair-hash
    predicate (md5(u1||u2)) forces. Same sampling semantics (uniform
    deterministic 1/37 of pairs), scale-safe plan shape; the operator-level
    API keeps sampled_pairs' max_exact guard for the true-random variant."""
    ev = _events(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
    ).cast("long") % 37
    users = ev.select("user_id").distinct().withColumn("__h", h)
    a = users.select(
        F.col("user_id").alias("u1"),
        ((F.lit(37) - F.col("__h")) % 37).alias("__want"),
    )
    b = users.select(F.col("user_id").alias("u2"), F.col("__h").alias("__want"))
    return (
        a.join(b, "__want")
        .filter(F.col("u1") < F.col("u2"))
        .select("u1", "u2")
    )


SQL_SAMPLED_PAIRS = """
WITH u AS (
  SELECT user_id,
    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4))::UBIGINT % 37 AS h
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT a.user_id AS u1, b.user_id AS u2
FROM u a JOIN u b ON b.h = (37 - a.h) % 37
WHERE a.user_id < b.user_id
"""


QUERIES.update(
    {
        "pair_diff": q_pair_diff,
        "cross_stage_pairs": q_cross_stage_pairs,
        "event_response_prepost": q_event_response_prepost,
        "topk_users": q_topk_users,
        "histogram_lift": q_histogram_lift,
        "value_counts": q_value_counts,
        "set_ops": q_set_ops,
        "discrete_entropy_mi": q_discrete_entropy_mi,
        "column_medians": q_column_medians,
        "center_rescale": q_center_rescale,
        "sampled_pairs_det": q_sampled_pairs_det,
    }
)
_RAW_ORACLES.update(
    {
        "pair_diff": SQL_PAIR_DIFF,
        "cross_stage_pairs": SQL_CROSS_STAGE,
        "event_response_prepost": SQL_EVENT_RESPONSE_PREPOST,
        "topk_users": SQL_TOPK,
        "histogram_lift": SQL_HISTOGRAM,
        "value_counts": SQL_VALUE_COUNTS,
        "set_ops": SQL_SET_OPS,
        "discrete_entropy_mi": SQL_ENTROPY_MI,
        "column_medians": SQL_COLUMN_MEDIANS,
        "center_rescale": SQL_CENTER_RESCALE,
        "sampled_pairs_det": SQL_SAMPLED_PAIRS,
    }
)


def q_sliced_score(spark, sf_dir):
    """Sliced-model scoring over embeddings: 64 weights in 4 shards,
    partial scores merged by sum (CollectSlices parity)."""
    from mpds_spark.operators.battery import score_dot_sliced

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    weights = [((i * 7) % 13 - 6) / 10.0 for i in range(64)]  # deterministic
    out = score_dot_sliced(emb, "e", weights, n_slices=4, key="vec_id")
    return out.select("vec_id", _r6("score").alias("score"))


SQL_SLICED_SCORE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
parts AS (
  {" UNION ALL ".join(
      "SELECT vec_id, list_dot_product(v[%d:%d], [%s]) AS p FROM e"
      % (s*16+1, s*16+16,
         ", ".join(repr(((i*7)%13-6)/10.0) for i in range(s*16, s*16+16)))
      for s in range(4))}
)
SELECT vec_id, round(sum(p), 6) AS score FROM parts GROUP BY vec_id
"""

QUERIES["sliced_score"] = q_sliced_score
_RAW_ORACLES["sliced_score"] = SQL_SLICED_SCORE


# ------------------------------------------------- round-2 ops

from mpds_spark.operators.dedup import (  # noqa: E402
    near_dup_pairs,
    simhash64,
    simhash_near_dups,
)


def q_near_dup_verified(spark, sf_dir):
    """Scale-safe near-dup: LSH candidates -> exact-Jaccard verify (the
    100-TB default plan; ngram_jaccard is the quadratic baseline)."""
    docs = load(spark, sf_dir, "documents")
    out = near_dup_pairs(docs, k=8, band_size=2, threshold=0.05)
    return out.select(
        "doc_a", "doc_b", "n_common", _r6("jaccard").alias("jaccard")
    )


_LSH_BAND_SQL = f"""
sig AS (
  SELECT doc_id,
    {", ".join(f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8))}
  FROM e GROUP BY doc_id
),
b AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {bi} AS band, h{2*bi} || '|' || h{2*bi+1} AS bh FROM sig"
      for bi in range(4))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM b a JOIN b c USING (band, bh) WHERE a.doc_id < c.doc_id
)
"""

SQL_NEAR_DUP_VERIFIED = f"""
WITH e AS ({_SHINGLE_SQL}),
{_LSH_BAND_SQL},
sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
common AS (
  SELECT cand.doc_a, cand.doc_b, count(*) AS n_common
  FROM cand
  JOIN e ea ON ea.doc_id = cand.doc_a
  JOIN e eb ON eb.doc_id = cand.doc_b AND eb.shingle = ea.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
  round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.05
"""


def q_simhash64(spark, sf_dir):
    return simhash64(load(spark, sf_dir, "documents"))


_S64_SUMS = ",\n    ".join(
    f"sum(CASE WHEN ({col} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{half}_{b}"
    for half, col in (("hi", "hh"), ("lo", "hl"))
    for b in range(32)
)
_S64_HI = " + ".join(
    f"CASE WHEN s_hi_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
)
_S64_LO = " + ".join(
    f"CASE WHEN s_lo_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
)
_S64_SIG_SQL = f"""
w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), h AS (
  SELECT doc_id,
    ('0x' || substring(md5(word), 1, 8))::UBIGINT AS hh,
    ('0x' || substring(md5(word), 9, 8))::UBIGINT AS hl
  FROM w
), s AS (
  SELECT doc_id,
    {_S64_SUMS}
  FROM h GROUP BY doc_id
), sig AS (
  SELECT doc_id,
    CAST({_S64_HI} AS BIGINT) AS sim_hi,
    CAST({_S64_LO} AS BIGINT) AS sim_lo
  FROM s
)
"""

SQL_SIMHASH64 = f"""
WITH {_S64_SIG_SQL}
SELECT doc_id, sim_hi, sim_lo FROM sig
"""


def q_simhash_near_dups(spark, sf_dir):
    out = simhash_near_dups(load(spark, sf_dir, "documents"), max_hamming=3)
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


SQL_SIMHASH_NEAR_DUPS = f"""
WITH {_S64_SIG_SQL},
bands AS (
  SELECT doc_id, sim_hi, sim_lo, 0 AS band, sim_lo & 65535 AS bv FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 1, (sim_lo >> 16) & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 2, sim_hi & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 3, (sim_hi >> 16) & 65535 FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
    a.sim_hi AS hi_a, a.sim_lo AS lo_a, c.sim_hi AS hi_b, c.sim_lo AS lo_b
  FROM bands a JOIN bands c USING (band, bv) WHERE a.doc_id < c.doc_id
)
SELECT doc_a, doc_b,
  CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT)
    AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
"""

QUERIES.update(
    {
        "near_dup_verified": q_near_dup_verified,
        "simhash64": q_simhash64,
        "simhash_near_dups": q_simhash_near_dups,
    }
)
_RAW_ORACLES.update(
    {
        "near_dup_verified": SQL_NEAR_DUP_VERIFIED,
        "simhash64": SQL_SIMHASH64,
        "simhash_near_dups": SQL_SIMHASH_NEAR_DUPS,
    }
)


def q_clinical_pairs(spark, sf_dir):
    """Intra+inter clinical comparisons (dssGenerateClinicalComparisons
    parity, dssFunctionLibrary.R:119-171): purchase rows, stage =
    event_id % 4, considered entities = user_id % 5 == 0; per-entity pairs
    capped at 3 per (entity, stage-combo), then a global inter-entity pass
    over used rows (40 rows/stage) capped at 50 per stage-combo. All caps
    are content-hash-rank (deterministic), mirrored exactly in the oracle."""
    from mpds_spark.operators.pairs import clinical_pairs

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    d = ev.select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        (F.col("event_id") % 4).alias("stage"),
    )
    considered = (
        d.filter(F.col("entity_id") % 5 == 0).select("entity_id").distinct()
    )
    return clinical_pairs(
        d,
        key="event_id",
        min_ht_gap=3600.0,
        considered=considered,
        intra_cap=3,
        inter_rows_per_stage=40,
        inter_cap=50,
    )


SQL_CLINICAL_PAIRS = """
WITH p AS (
  SELECT event_id, user_id, epoch(ts) AS t, event_id % 4 AS stage
  FROM events
  WHERE event_type = 'purchase' AND user_id % 5 = 0 AND event_id % 4 >= 0
),
intra0 AS (
  SELECT a.event_id AS on_key, b.event_id AS off_key,
         a.stage AS on_stage, b.stage AS off_stage, a.user_id AS on_entity
  FROM p a JOIN p b
    ON a.user_id = b.user_id AND a.stage > b.stage AND abs(a.t - b.t) >= 3600
),
intra AS (
  SELECT on_key, off_key, on_stage, off_stage FROM (
    SELECT *, row_number() OVER (
      PARTITION BY on_entity, on_stage, off_stage
      ORDER BY md5(on_key || '|' || off_key)) AS rn
    FROM intra0) WHERE rn <= 3
),
used AS (
  SELECT on_key AS event_id FROM intra
  UNION
  SELECT off_key FROM intra
),
ur AS (
  SELECT * FROM (
    SELECT p.*, row_number() OVER (
      PARTITION BY stage ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn
    FROM p WHERE event_id IN (SELECT event_id FROM used)
  ) WHERE rn <= 40
),
inter0 AS (
  SELECT a.event_id AS on_key, b.event_id AS off_key,
         a.stage AS on_stage, b.stage AS off_stage
  FROM ur a JOIN ur b
    ON a.stage > b.stage AND abs(a.t - b.t) >= 3600
),
inter AS (
  SELECT on_key, off_key, on_stage, off_stage FROM (
    SELECT *, row_number() OVER (
      PARTITION BY on_stage, off_stage
      ORDER BY md5(on_key || '|' || off_key)) AS rn
    FROM inter0) WHERE rn <= 50
)
SELECT on_key, off_key, min(on_stage) AS on_stage,
  min(off_stage) AS off_stage,
  CASE WHEN min(prio) = 0 THEN 'intra' ELSE 'inter' END AS pair_type
FROM (
  SELECT *, 0 AS prio FROM intra
  UNION ALL
  SELECT *, 1 AS prio FROM inter
)
GROUP BY on_key, off_key
"""

QUERIES["clinical_pairs"] = q_clinical_pairs
_RAW_ORACLES["clinical_pairs"] = SQL_CLINICAL_PAIRS


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (driver-mandated dedup family):
    sign-code bucket candidates -> exact cosine >= 0.35 verify."""
    from mpds_spark.operators.similarity import embedding_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(emb, threshold=0.35, bits=4)
    return out.select("vec_a", "vec_b", _r6("cosine").alias("cosine"))


SQL_EMBEDDING_NEAR_DUPS = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS code
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v))
    / sqrt(list_dot_product(b.v, b.v)), 6) AS cosine
FROM base a JOIN base b USING (code)
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v))
    / sqrt(list_dot_product(b.v, b.v)) >= 0.35
"""

QUERIES["embedding_near_dups"] = q_embedding_near_dups
_RAW_ORACLES["embedding_near_dups"] = SQL_EMBEDDING_NEAR_DUPS


def q_embedding_near_dups_multi(spark, sf_dir):
    """Multi-table banded candidate union (VERDICT r2 #5): K=2 independent
    4-bit code tables (axis-aligned sign codes over DISJOINT component
    windows — the oracle-portable twin of K seeded random-hyperplane
    tables), one (table, code) equi-join + dedupe, cosine verify. The
    seeded-random production variant (seeds=[...]) shares this exact plan
    and is recall-gated in pytest vs brute force."""
    from mpds_spark.operators.similarity import (
        embedding_near_dup_pairs,
        sign_code,
    )

    emb = load(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(
        emb,
        threshold=0.35,
        code_cols=[sign_code("embedding", 4, 0), sign_code("embedding", 4, 4)],
    )
    return out.select("vec_a", "vec_b", _r6("cosine").alias("cosine"))


def _dd_sign_code(offset: int) -> str:
    return " + ".join(
        f"CASE WHEN embedding[{offset + i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(4)
    )


SQL_EMBEDDING_NEAR_DUPS_MULTI = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
    ({_dd_sign_code(0)}) AS c0,
    ({_dd_sign_code(4)}) AS c1
  FROM embeddings
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM base a JOIN base b ON (a.c0 = b.c0 OR a.c1 = b.c1)
  WHERE a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
  round(list_dot_product(x.v, y.v) / sqrt(list_dot_product(x.v, x.v))
    / sqrt(list_dot_product(y.v, y.v)), 6) AS cosine
FROM cand c
JOIN base x ON x.vec_id = c.vec_a
JOIN base y ON y.vec_id = c.vec_b
WHERE list_dot_product(x.v, y.v) / sqrt(list_dot_product(x.v, x.v))
    / sqrt(list_dot_product(y.v, y.v)) >= 0.35
"""

QUERIES["embedding_near_dups_multi"] = q_embedding_near_dups_multi
_RAW_ORACLES["embedding_near_dups_multi"] = SQL_EMBEDDING_NEAR_DUPS_MULTI


def q_random_ordered_pairs(spark, sf_dir):
    """Seeded random rank-ordered pairs (createRandomPairsOrderedByRank
    parity) over purchase events, rank = value. The operator is a pure
    function of row content (hash-threshold sampling, hash-rank zip,
    hash-rank cap), so the DuckDB oracle mirrors it exactly."""
    from mpds_spark.operators.pairs import random_ordered_pairs

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    d = ev.select("event_id", "value")
    return random_ordered_pairs(
        d, key="event_id", rank="value", n_pairs=200, seed=42
    )


# canonical rank encoding for hash inputs: floor(r*1e6 + 0.5) as BIGINT —
# NEVER the raw double's string form, which renders differently across
# engines outside the plain-decimal range (Spark '1.0E7' vs DuckDB
# '10000000.0'). Mirrors pairs.random_ordered_pairs exactly.
_ROP_RK = "CAST(CAST(floor(r * 1000000 + 0.5) AS BIGINT) AS VARCHAR)"


def _rop_u(salt: str) -> str:
    """uniform-[0,1) hash of (salt, k, rkey) — DuckDB twin of the operator's
    conv(substring(md5(concat_ws('|', salt, k, rkey)), 1, 8), 16, 10)/2^32."""
    key = f"'{salt}' || '|' || CAST(k AS VARCHAR) || '|' || {_ROP_RK}"
    return f"('0x' || substring(md5({key}), 1, 8))::UBIGINT / 4294967296.0"


def _rop_h(salt: str) -> str:
    key = f"'{salt}' || '|' || CAST(k AS VARCHAR) || '|' || {_ROP_RK}"
    return f"md5({key})"


SQL_RANDOM_ORDERED_PAIRS = f"""
WITH k0 AS (
  SELECT event_id AS k, value AS r FROM events WHERE event_type = 'purchase'
),
n AS (SELECT count(*)::DOUBLE AS n FROM k0),
pa AS (
  SELECT k, r FROM k0, n WHERE {_rop_u("42a")} < least(1.0, 2.0 * 200 / n)
),
pb AS (
  SELECT k, r FROM k0, n WHERE {_rop_u("42b")} < least(1.0, 2.0 * 200 / n)
),
ia AS (SELECT k, r, row_number() OVER (ORDER BY {_rop_h("42oa")}) AS i FROM pa),
ib AS (SELECT k, r, row_number() OVER (ORDER BY {_rop_h("42ob")}) AS i FROM pb),
cand AS (
  SELECT a.k AS k1, a.r AS r1, b.k AS k2, b.r AS r2
  FROM ia a JOIN ib b USING (i)
  WHERE a.k <> b.k AND a.r <> b.r
),
o AS (
  SELECT DISTINCT
    CASE WHEN r1 >= r2 THEN k1 ELSE k2 END AS on_key,
    CASE WHEN r1 >= r2 THEN k2 ELSE k1 END AS off_key
  FROM cand
)
SELECT on_key, off_key FROM (
  SELECT *, row_number() OVER (ORDER BY
    md5('42' || '|' || CAST(on_key AS VARCHAR)
        || '|' || CAST(off_key AS VARCHAR))) AS rn
  FROM o
) WHERE rn <= 200
"""

QUERIES["random_ordered_pairs"] = q_random_ordered_pairs
_RAW_ORACLES["random_ordered_pairs"] = SQL_RANDOM_ORDERED_PAIRS


def q_asof_salted(spark, sf_dir):
    """The SALTED as-of path through the driver gate: asof_orders semantics
    executed via salted_asof_join with a 90-day chunk span (several chunks per
    entity + boundary-carry replay exercised at sf scale). The oracle is a
    PLAIN ASOF JOIN — the gate thus certifies the documented salted ==
    unsalted equivalence on real data, not just a pytest fixture.

    Orders are pre-aggregated to one row per (entity, ts) (max price):
    ~32 customers place 2 orders on the same date at sf0.01, and an as-of
    match against duplicate timestamps has no defined winner in EITHER
    engine — the dedupe makes the query well-posed without weakening the
    chunk/carry coverage."""
    from mpds_spark.operators.salting import salted_asof_join

    # left = purchase events only: the salted path is the grouped-map
    # (memory-bounded) branch, whose per-(entity, chunk) pandas-group
    # overhead is the price of bounded memory — the catalog query keeps it
    # representative (chunks + carries exercised on real data) without
    # letting that overhead dominate the whole bench (an all-events left at
    # 30-day chunks cost 210 s at sf0.1 purely in group count)
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.col("user_id").alias("entity_id"),
            F.col("ts").cast("timestamp").cast("double").alias("ts"),
        )
    )
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("entity_id"),
            F.col("o_orderdate").cast("timestamp").cast("double").alias("ts"),
        )
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    )
    # the as-of scan stays JVM-side with one exchange on the SALTED key -
    # at scale this is exactly how a giant entity's sort partition is split
    out = salted_asof_join(
        ev,
        orders,
        on="ts",
        by="entity_id",
        chunk_span=90 * 86400.0,
    )
    return out.select(
        "event_id",
        F.col("o_totalprice").alias("last_order_price"),
        _r6("ts_r").alias("last_order_ts"),
    )


SQL_ASOF_SALTED = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t FROM events
  WHERE event_type = 'purchase'
), o AS (
  SELECT o_custkey, epoch(o_orderdate) AS t, max(o_totalprice) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, o.o_totalprice AS last_order_price,
       round(o.t, 6) AS last_order_ts
FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.t >= o.t
"""

QUERIES["asof_salted"] = q_asof_salted
_RAW_ORACLES["asof_salted"] = SQL_ASOF_SALTED


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality signals (Rae et al. 2021 A1.1) over documents —
    thresholds tuned so the synthetic corpus splits non-trivially
    (min_words=8; the corpus has no 50-word floor)."""
    from mpds_spark.operators.text import gopher_quality_filter

    docs = load(spark, sf_dir, "documents")
    out = gopher_quality_filter(docs, min_words=8, min_mean_word_len=3.0)
    return out.select(
        "doc_id",
        "n_words",
        _r6("mean_word_len").alias("mean_word_len"),
        _r6("alpha_word_ratio").alias("alpha_word_ratio"),
        "n_distinct_stopwords",
        _r6("symbol_word_ratio").alias("symbol_word_ratio"),
        "ok_n_words",
        "ok_mean_word_len",
        "ok_alpha_ratio",
        "ok_stopwords",
        "ok_symbol_ratio",
        "passes",
    )


SQL_GOPHER_QUALITY = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), s AS (
  SELECT doc_id,
    len(ws) AS n_words,
    list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws)
      AS mean_word_len,
    len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
      / len(ws) AS alpha_word_ratio,
    len(list_intersect(list_distinct(ws),
        ['the','a','of','and','to','in','is','for','that','with']))
      AS n_distinct_stopwords,
    len(list_filter(ws, x -> x IN ('#', '...', '…')))::DOUBLE / len(ws)
      AS symbol_word_ratio
  FROM w
)
SELECT doc_id, n_words,
  round(mean_word_len, 6) AS mean_word_len,
  round(alpha_word_ratio, 6) AS alpha_word_ratio,
  n_distinct_stopwords,
  round(symbol_word_ratio, 6) AS symbol_word_ratio,
  (n_words >= 8 AND n_words <= 100000) AS ok_n_words,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
  (alpha_word_ratio >= 0.8) AS ok_alpha_ratio,
  (n_distinct_stopwords >= 2) AS ok_stopwords,
  (symbol_word_ratio <= 0.1) AS ok_symbol_ratio,
  ((n_words >= 8 AND n_words <= 100000)
   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
   AND (alpha_word_ratio >= 0.8)
   AND (n_distinct_stopwords >= 2)
   AND (symbol_word_ratio <= 0.1)) AS passes
FROM s
"""

QUERIES["gopher_quality"] = q_gopher_quality
_RAW_ORACLES["gopher_quality"] = SQL_GOPHER_QUALITY


def q_near_dup_components(spark, sf_dir):
    """Dedup GROUPS from near-dup PAIRS: connected components by the
    alternating large-/small-star algorithm (operators/dedup.py
    connected_components — log rounds whatever the graph's diameter) +
    keep = component representative (min id). The oracle computes the
    same components with a DuckDB RECURSIVE CTE — an iterative Spark
    algorithm checked against a recursive SQL one; tests/test_dedup.py
    checks the components against a pure-Python union-find."""
    from mpds_spark.operators.dedup import dedup_keep_list, simhash_near_dups

    docs = load(spark, sf_dir, "documents")
    # simhash pairs as the edge source: same dedup-groups semantics as the
    # MinHash pipeline (which near_dup_verified already times separately)
    # at a third of the pipeline cost — the query's subject is the
    # components algorithm, not a second run of the pair generator.
    pairs = simhash_near_dups(docs, max_hamming=3)
    return dedup_keep_list(docs, pairs)


SQL_NEAR_DUP_COMPONENTS = f"""
WITH RECURSIVE {_S64_SIG_SQL.strip().rstrip()},
bands AS (
  SELECT doc_id, sim_hi, sim_lo, 0 AS band, sim_lo & 65535 AS bv FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 1, (sim_lo >> 16) & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 2, sim_hi & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 3, (sim_hi >> 16) & 65535 FROM sig
),
verified AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c USING (band, bv)
  WHERE a.doc_id < c.doc_id
    AND bit_count(xor(a.sim_hi, c.sim_hi))
      + bit_count(xor(a.sim_lo, c.sim_lo)) <= 3
),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION ALL
  SELECT doc_b, doc_a FROM verified
),
verts AS (SELECT DISTINCT a AS v FROM und),
reach(v, label) AS (
  SELECT v, v FROM verts
  UNION
  SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.v
),
comp AS (SELECT v AS doc_id, min(label) AS component FROM reach GROUP BY v)
SELECT d.doc_id,
  coalesce(c.component, d.doc_id) AS component,
  (coalesce(c.component, d.doc_id) = d.doc_id) AS keep
FROM documents d LEFT JOIN comp c USING (doc_id)
"""

QUERIES["near_dup_components"] = q_near_dup_components
_RAW_ORACLES["near_dup_components"] = SQL_NEAR_DUP_COMPONENTS


def q_near_dup_components_star(spark, sf_dir):
    """The large-/small-star component algorithm (Kiveris et al. SOCC'14)
    on a purpose-built component fixture: 5 chains of 40 (diameter 39 —
    a min-label propagation would need 39 rounds; star needs ~log), 10
    stars of 9 spokes, 50 singletons. The simhash edges of
    near_dup_components form small clusters, so this fixture is the
    catalog row that drives the algorithm through many rounds, against a
    RECURSIVE-CTE oracle."""
    from mpds_spark.operators.dedup import dedup_keep_list

    verts = spark.range(350).select(F.col("id").alias("doc_id"))
    chain = (
        spark.range(200)
        .filter((F.col("id") + 1) % 40 != 0)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    star = spark.range(210, 300).select(
        (F.lit(200) + F.floor((F.col("id") - 210) / 9)).alias("doc_a"),
        F.col("id").alias("doc_b"),
    )
    # the star loop's construction is EAGER (per-round localCheckpoint);
    # at 350 vertices each round's cost is pure task-scheduling latency,
    # so scope the shuffle width down for the loop and restore after —
    # at real scale the width stays at the session setting (this is the
    # same runtime right-sizing AQE applies to small post-shuffle stages).
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        return dedup_keep_list(verts, chain.unionAll(star))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


SQL_NEAR_DUP_COMPONENTS_STAR = """
WITH RECURSIVE
verts AS (SELECT unnest(range(350)) AS v),
chain AS (
  SELECT v AS a, v + 1 AS b FROM (SELECT unnest(range(200)) AS v)
  WHERE (v + 1) % 40 <> 0
),
star AS (
  SELECT 200 + (s - 210) // 9 AS a, s AS b
  FROM (SELECT unnest(range(210, 300)) AS s)
),
edges AS (SELECT a, b FROM chain UNION ALL SELECT a, b FROM star),
und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
ev AS (SELECT DISTINCT a AS v FROM und),
reach(v, label) AS (
  SELECT v, v FROM ev
  UNION
  SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.v
),
comp AS (SELECT v AS doc_id, min(label) AS component FROM reach GROUP BY v)
SELECT t.v AS doc_id,
  coalesce(c.component, t.v) AS component,
  (coalesce(c.component, t.v) = t.v) AS keep
FROM verts t LEFT JOIN comp c ON c.doc_id = t.v
"""

QUERIES["near_dup_components_star"] = q_near_dup_components_star
_RAW_ORACLES["near_dup_components_star"] = SQL_NEAR_DUP_COMPONENTS_STAR


def q_repetition_signals(spark, sf_dir):
    """Gopher repetition-removal signals over documents: most-common
    2-/3-gram character fractions (with-multiplicity counting) and
    duplicate-word fraction, with the A1.1 thresholds as flags."""
    from mpds_spark.operators.text import repetition_signals

    docs = load(spark, sf_dir, "documents")
    out = repetition_signals(docs)
    return out.select(
        "doc_id",
        "n_words",
        _r6("dup_word_frac").alias("dup_word_frac"),
        _r6("top2_char_frac").alias("top2_char_frac"),
        _r6("top3_char_frac").alias("top3_char_frac"),
        "ok_top2",
        "ok_top3",
    )


SQL_REPETITION = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), base AS (
  SELECT doc_id, len(ws) AS n_words,
    list_sum(list_transform(ws, x -> length(x))) AS chars,
    1.0 - len(list_distinct(ws))::DOUBLE / len(ws) AS dup_word_frac,
    ws
  FROM w
), g2 AS (
  SELECT doc_id, chars, unnest(
    CASE WHEN len(ws) >= 2
      THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      ELSE []::VARCHAR[] END) AS gram
  FROM base
), c2 AS (
  SELECT doc_id, gram, any_value(chars) AS chars, count(*) AS c
  FROM g2 GROUP BY 1, 2
), t2 AS (
  -- most-frequent gram (rank by count, ties: longer gram then greater
  -- gram), take ITS count * length — mirrors the Spark struct arg-max
  SELECT doc_id, c * length(gram) / chars::DOUBLE AS top2_char_frac
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY c DESC, length(gram) DESC, gram DESC) AS rn FROM c2)
  WHERE rn = 1
), g3 AS (
  SELECT doc_id, chars, unnest(
    CASE WHEN len(ws) >= 3
      THEN list_transform(range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      ELSE []::VARCHAR[] END) AS gram
  FROM base
), c3 AS (
  SELECT doc_id, gram, any_value(chars) AS chars, count(*) AS c
  FROM g3 GROUP BY 1, 2
), t3 AS (
  SELECT doc_id, c * length(gram) / chars::DOUBLE AS top3_char_frac
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY c DESC, length(gram) DESC, gram DESC) AS rn FROM c3)
  WHERE rn = 1
)
SELECT b.doc_id, b.n_words,
  round(b.dup_word_frac, 6) AS dup_word_frac,
  round(coalesce(t2.top2_char_frac, 0.0), 6) AS top2_char_frac,
  round(coalesce(t3.top3_char_frac, 0.0), 6) AS top3_char_frac,
  (coalesce(t2.top2_char_frac, 0.0) <= 0.20) AS ok_top2,
  (coalesce(t3.top3_char_frac, 0.0) <= 0.18) AS ok_top3
FROM base b
LEFT JOIN t2 ON t2.doc_id = b.doc_id
LEFT JOIN t3 ON t3.doc_id = b.doc_id
"""

QUERIES["repetition_signals"] = q_repetition_signals
_RAW_ORACLES["repetition_signals"] = SQL_REPETITION


def q_ann_lsh_multiprobe(spark, sf_dir):
    """lsh_cosine_topk with 2 Hamming-1 probes on the query side: recall
    recovered from neighbor buckets without rescanning the corpus (the
    vectors stay single-bucket)."""
    emb = load(spark, sf_dir, "embeddings")
    out = lsh_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3, bits=4, n_probes=2
    )
    return out.select(
        "query_id", "neighbor_id", _r6("cosine").alias("cosine"), "rank"
    )


SQL_ANN_LSH_MULTIPROBE = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS code
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv,
    unnest([code, xor(code, 1), xor(code, 2)]) AS code
  FROM base WHERE vec_id < 5
), s AS (
  SELECT query_id, b.vec_id AS neighbor_id,
    list_dot_product(qv, b.v) / sqrt(list_dot_product(qv, qv))
      / sqrt(list_dot_product(b.v, b.v)) AS cosine
  FROM q JOIN base b USING (code) WHERE query_id <> b.vec_id
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM r WHERE rank <= 3
"""

QUERIES["ann_lsh_multiprobe"] = q_ann_lsh_multiprobe
_RAW_ORACLES["ann_lsh_multiprobe"] = SQL_ANN_LSH_MULTIPROBE


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: the corpus is partitioned into inverted
    lists by nearest centroid (cosine, ties to the lower centroid id);
    each query probes its 2 nearest lists via an equi-join on list id —
    the corpus shuffles once regardless of query count. The catalog
    variant uses a DETERMINISTIC centroid set (the embeddings of
    vec_id < 8) so DuckDB can replay the assignment; the production
    k-means path (kmeans_centroids) shares the exact plan and is
    recall-gated in pytest vs brute force."""
    from mpds_spark.operators.similarity import ivf_cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    cent = [
        row["v"]
        for row in emb.filter(F.col("vec_id") < 8)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .orderBy("vec_id")
        .collect()
    ]
    out = ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), centroids=cent, k=3, n_probe=2
    )
    return out.select(
        "query_id", "neighbor_id", _r6("cosine").alias("cosine"), "rank"
    )


SQL_ANN_IVF = """
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id < 8
), v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings
), vassign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid, row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY list_dot_product(vv, cv) / sqrt(list_dot_product(cv, cv))
        DESC, c.cid) AS rn
    FROM v, c) WHERE rn = 1
), qassign AS (
  SELECT query_id, cid FROM (
    SELECT v.vec_id AS query_id, c.cid, row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY list_dot_product(vv, cv) / sqrt(list_dot_product(cv, cv))
        DESC, c.cid) AS rn
    FROM v, c WHERE v.vec_id < 5) WHERE rn <= 2
), s AS (
  SELECT qa.query_id, va.vec_id AS neighbor_id,
    list_dot_product(x.vv, y.vv) / sqrt(list_dot_product(x.vv, x.vv))
      / sqrt(list_dot_product(y.vv, y.vv)) AS cosine
  FROM qassign qa
  JOIN vassign va ON va.cid = qa.cid
  JOIN v x ON x.vec_id = qa.query_id
  JOIN v y ON y.vec_id = va.vec_id
  WHERE qa.query_id <> va.vec_id
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM r WHERE rank <= 3
"""

QUERIES["ann_ivf_topk"] = q_ann_ivf_topk
_RAW_ORACLES["ann_ivf_topk"] = SQL_ANN_IVF


def q_grouped_medians(spark, sf_dir):
    """Per-group EXACT median via distributed bracketed selection (the
    grouped twin of column_medians' algorithm): per-key approx bracket ->
    per-key below-count -> window over only the in-bracket slices. No
    value->count map concentrates on a reducer and nothing is collected
    on the driver, so both group count and group size are unbounded —
    Spark's exact `percentile` aggregate cannot say either at 10^12
    rows."""
    from mpds_spark.operators.scale import exact_grouped_quantiles

    li = load(spark, sf_dir, "lineitem")
    out = exact_grouped_quantiles(li, "l_returnflag", "l_extendedprice", p=0.5)
    return out.select(
        "l_returnflag", _r6("q_l_extendedprice").alias("median_price")
    )


SQL_GROUPED_MEDIANS = """
SELECT l_returnflag,
  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
FROM lineitem GROUP BY l_returnflag
"""

QUERIES["grouped_medians"] = q_grouped_medians
_RAW_ORACLES["grouped_medians"] = SQL_GROUPED_MEDIANS


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (Brown et al. 2020 App. C): corpus docs
    (doc_id % 13 != 0) flagged when they share any distinct 3-gram with
    the held-out eval slice (doc_id % 13 == 0). Eval shingles broadcast;
    one doc-keyed shuffle."""
    from mpds_spark.operators.text import decontaminate

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    ev = docs.filter(F.col("doc_id") % 13 == 0)
    out = decontaminate(corpus, ev, n=3, min_hits=1)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        _r6("hit_frac").alias("hit_frac"),
        "contaminated",
    )


SQL_DECONTAMINATE = """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
ce AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(words) - 1),
           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
         AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM corpus)
  WHERE len(words) >= 3
),
ee AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_distinct(list_transform(
             range(1, len(words) - 1),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
           AS shingle
    FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS words
          FROM documents WHERE doc_id % 13 = 0)
    WHERE len(words) >= 3)
),
agg AS (
  SELECT ce.doc_id, count(*) AS n_shingles, count(ee.shingle) AS n_hits
  FROM ce LEFT JOIN ee ON ce.shingle = ee.shingle
  GROUP BY ce.doc_id
)
SELECT c.doc_id,
  coalesce(n_shingles, 0) AS n_shingles,
  coalesce(n_hits, 0) AS n_hits,
  round(CASE WHEN coalesce(n_shingles, 0) > 0
        THEN coalesce(n_hits, 0) / CAST(n_shingles AS DOUBLE)
        ELSE 0.0 END, 6) AS hit_frac,
  coalesce(n_hits, 0) >= 1 AS contaminated
FROM corpus c LEFT JOIN agg ON c.doc_id = agg.doc_id
"""

QUERIES["decontaminate"] = q_decontaminate
_RAW_ORACLES["decontaminate"] = SQL_DECONTAMINATE


def q_sample_token_budget(spark, sf_dir):
    """Deterministic per-source token-budget sample in content-hash order,
    via the BUCKETED two-pass strategy (per-(source, md5-nibble) totals ->
    driver prefix carries -> intra-bucket running sum) — the 100-TB path;
    bit-equal to the single-window strategy (pytest-pinned), and the
    oracle is the plain global window."""
    from mpds_spark.operators.sampling import sample_token_budget

    docs = load(spark, sf_dir, "documents")
    return sample_token_budget(
        docs, budget=700, group="source", strategy="bucketed"
    )


SQL_SAMPLE_TOKEN_BUDGET = """
WITH t AS (
  SELECT doc_id, source,
    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
    md5(source || '|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tok,
    sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM t
)
SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= 700
"""

QUERIES["sample_token_budget"] = q_sample_token_budget
_RAW_ORACLES["sample_token_budget"] = SQL_SAMPLE_TOKEN_BUDGET


def q_duplicate_spans(spark, sf_dir):
    """Substring-level dup signals (Lee et al. 2021): per-doc count of
    8-gram positions whose gram occurs >= 2 times corpus-wide, plus the
    token fraction covered by the union of those spans (closed-form
    interval union via lead())."""
    from mpds_spark.operators.dedup import duplicate_spans

    docs = load(spark, sf_dir, "documents")
    out = duplicate_spans(docs, k=8, min_df=2)
    return out.select(
        "doc_id",
        "n_tok",
        "n_dup_positions",
        "covered_tok",
        _r6("dup_tok_frac").alias("dup_tok_frac"),
    )


SQL_DUPLICATE_SPANS = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 8 + 2),
      i -> {'pos': i, 'gram': md5(array_to_string(ws[i:i+7], ' '))})) AS s
  FROM t WHERE len(ws) >= 8
), occ AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM g),
dup AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) >= 2),
d AS (
  SELECT o.doc_id, o.pos,
    least(coalesce(lead(o.pos) OVER (PARTITION BY o.doc_id ORDER BY o.pos)
                   - o.pos, 8), 8) AS cspan
  FROM occ o JOIN dup USING (gram)
),
cov AS (
  SELECT doc_id, count(*) AS n_dup_positions,
         CAST(sum(cspan) AS BIGINT) AS covered_tok
  FROM d GROUP BY doc_id
)
SELECT t.doc_id,
  len(ws) AS n_tok,
  coalesce(n_dup_positions, 0) AS n_dup_positions,
  coalesce(covered_tok, 0) AS covered_tok,
  round(CASE WHEN len(ws) > 0
        THEN coalesce(covered_tok, 0) / CAST(len(ws) AS DOUBLE)
        ELSE 0.0 END, 6) AS dup_tok_frac
FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
"""

QUERIES["duplicate_spans"] = q_duplicate_spans
_RAW_ORACLES["duplicate_spans"] = SQL_DUPLICATE_SPANS


def q_remove_dup_spans(spark, sf_dir):
    """Apply step of substring dedup: strip every token covered by a
    corpus-duplicated 8-gram and return a content hash of the cleaned
    word array — value-exact proof the rewritten arrays match the
    oracle's, not just their lengths."""
    from mpds_spark.operators.dedup import remove_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    out = remove_duplicate_spans(docs, k=8, min_df=2)
    return out.select(
        "doc_id",
        "n_tok",
        "n_tok_clean",
        F.md5(F.concat_ws(" ", "tokens_clean")).alias("clean_hash"),
    )


SQL_REMOVE_DUP_SPANS = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 8 + 2),
      i -> {'pos': i, 'gram': md5(array_to_string(ws[i:i+7], ' '))})) AS s
  FROM t WHERE len(ws) >= 8
), occ AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM g),
dup AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT o.doc_id, unnest(range(o.pos, o.pos + 8)) AS cp
  FROM occ o JOIN dup USING (gram)
), cl AS (
  SELECT doc_id, list(cp) AS cps FROM cov GROUP BY doc_id
)
SELECT t.doc_id,
  len(ws) AS n_tok,
  len(list_filter(ws, (x, i) -> NOT list_contains(coalesce(cps, []), i)))
    AS n_tok_clean,
  md5(coalesce(array_to_string(
    list_filter(ws, (x, i) -> NOT list_contains(coalesce(cps, []), i)),
    ' '), '')) AS clean_hash
FROM t LEFT JOIN cl ON t.doc_id = cl.doc_id
"""

QUERIES["remove_dup_spans"] = q_remove_dup_spans
_RAW_ORACLES["remove_dup_spans"] = SQL_REMOVE_DUP_SPANS


def q_unigram_nll(spark, sf_dir):
    """CCNet-style LM quality score: corpus add-1-smoothed unigram NLL per
    doc (mean -ln p(word)); high = gibberish, low = boilerplate."""
    from mpds_spark.operators.text import unigram_logprob_score

    docs = load(spark, sf_dir, "documents")
    out = unigram_logprob_score(docs, alpha=1.0)
    return out.select(
        "doc_id", "n_words", _r6("unigram_nll").alias("unigram_nll")
    )


SQL_UNIGRAM_NLL = """
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), c AS (SELECT word, count(*) AS c FROM w GROUP BY word),
t AS (SELECT sum(c) AS n, count(*) AS v FROM c)
SELECT w.doc_id,
  count(*) AS n_words,
  round(avg(-ln((c.c + 1.0) / (t.n + 1.0 * t.v))), 6) AS unigram_nll
FROM w JOIN c USING (word) CROSS JOIN t
GROUP BY w.doc_id
"""

QUERIES["unigram_nll"] = q_unigram_nll
_RAW_ORACLES["unigram_nll"] = SQL_UNIGRAM_NLL


def q_lm_quality_buckets(spark, sf_dir):
    """CCNet head/middle/tail split: per-source terciles of the unigram-LM
    NLL (exact grouped quantile_cont via distributed bracketed selection);
    boundary docs tie into the lower bucket."""
    from mpds_spark.operators.text import lm_quality_buckets

    docs = load(spark, sf_dir, "documents")
    out = lm_quality_buckets(docs, group="source")
    return out.select(
        "doc_id",
        "source",
        "n_words",
        _r6("unigram_nll").alias("unigram_nll"),
        "bucket",
    )


SQL_LM_QUALITY_BUCKETS = """
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), c AS (SELECT word, count(*) AS c FROM w GROUP BY word),
t AS (SELECT sum(c) AS n, count(*) AS v FROM c),
nll AS (
  SELECT w.doc_id, count(*) AS n_words,
    avg(-ln((c.c + 1.0) / (t.n + 1.0 * t.v))) AS s
  FROM w JOIN c USING (word) CROSS JOIN t GROUP BY w.doc_id
),
j AS (
  SELECT n.doc_id, d.source, n.n_words, n.s
  FROM nll n JOIN documents d USING (doc_id)
),
q AS (
  SELECT source, quantile_cont(s, 1.0/3) AS q1, quantile_cont(s, 2.0/3) AS q2
  FROM j GROUP BY source
)
SELECT j.doc_id, j.source, j.n_words, round(j.s, 6) AS unigram_nll,
  CASE WHEN j.s <= q.q1 THEN 'head'
       WHEN j.s <= q.q2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM j JOIN q USING (source)
"""

QUERIES["lm_quality_buckets"] = q_lm_quality_buckets
_RAW_ORACLES["lm_quality_buckets"] = SQL_LM_QUALITY_BUCKETS


def q_chunk_tokens(spark, sf_dir):
    """Training-length chunking of the documents' word arrays (length 32,
    disjoint, remainder kept): per-chunk id, size, and a content hash of
    the chunk — value-exact proof of the split points and passthrough."""
    from mpds_spark.operators.battery import chunk_tokens

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tokens")
    )
    out = chunk_tokens(docs, length=32)
    return out.select(
        "doc_id",
        "chunk_id",
        "n_tok_chunk",
        F.md5(F.concat_ws(" ", "tokens")).alias("chunk_hash"),
    )


SQL_CHUNK_TOKENS = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(
      range(0, CAST(floor((len(ws) - 1) / 32.0) AS BIGINT) + 1),
      i -> {'cid': i, 'chunk': ws[1 + i*32 : (i+1)*32]})) AS s
  FROM t WHERE len(ws) >= 1
)
SELECT doc_id,
  CAST(s.cid AS INT) AS chunk_id,
  CAST(len(s.chunk) AS INT) AS n_tok_chunk,
  md5(coalesce(array_to_string(s.chunk, ' '), '')) AS chunk_hash
FROM g
"""

QUERIES["chunk_tokens"] = q_chunk_tokens
_RAW_ORACLES["chunk_tokens"] = SQL_CHUNK_TOKENS


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing of the documents' word arrays into
    64-token training rows (hash-order stream, docs cross boundaries):
    per-bin segment count + content hash of the packed row."""
    from mpds_spark.operators.sampling import pack_sequences

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tokens")
    )
    out = pack_sequences(docs, length=64)
    return out.select(
        "bin_id",
        "n_tok_packed",
        "n_segments",
        F.md5(F.concat_ws(" ", "tokens")).alias("packed_hash"),
    )


SQL_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, ws, len(ws) AS n, md5(CAST(doc_id AS VARCHAR)) AS h
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents)
  WHERE len(ws) > 0
), c AS (
  SELECT doc_id, ws, n,
    CAST(sum(n) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n
         AS BIGINT) AS s
  FROM t
), p AS (
  SELECT doc_id, ws, n, s,
    unnest(range(s // 64, (s + n - 1) // 64 + 1)) AS bin
  FROM c
), pieces AS (
  SELECT bin, s,
    list_slice(ws, CAST(greatest(bin * 64 - s, 0) AS BIGINT) + 1,
               CAST(least(n, (bin + 1) * 64 - s) AS BIGINT)) AS piece
  FROM p
), packed AS (
  SELECT bin, list(piece ORDER BY s) AS pl, count(*) AS n_segments
  FROM pieces GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin_id,
  CAST(len(flatten(pl)) AS BIGINT) AS n_tok_packed,
  CAST(n_segments AS INT) AS n_segments,
  md5(coalesce(array_to_string(flatten(pl), ' '), '')) AS packed_hash
FROM packed
"""

QUERIES["pack_sequences"] = q_pack_sequences
_RAW_ORACLES["pack_sequences"] = SQL_PACK_SEQUENCES


def q_matlab_moments(spark, sf_dir):
    """MATLAB-convention moment battery per l_returnflag over
    l_extendedprice (mlstats conventions: prctile midpoint grid, std n-1,
    biased skew/kurt, smallest-tie mode), fully distributed."""
    from mpds_spark.operators.scale import grouped_matlab_moments

    li = load(spark, sf_dir, "lineitem")
    out = grouped_matlab_moments(li, "l_returnflag", "l_extendedprice")
    return out.select(
        "l_returnflag",
        "n",
        _r6("mean").alias("mean"),
        _r6("std").alias("std"),
        _r6("skew").alias("skew"),
        _r6("kurt").alias("kurt"),
        _r6("p25").alias("p25"),
        _r6("median").alias("median"),
        _r6("p75").alias("p75"),
        _r6("mode").alias("mode"),
    )


SQL_MATLAB_MOMENTS = """
WITH d AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), base AS (
  SELECT g, count(*) AS n, avg(x) AS mu FROM d GROUP BY g
), c AS (
  SELECT d.g, d.x, base.n, base.mu,
    row_number() OVER (PARTITION BY d.g ORDER BY d.x) AS rn
  FROM d JOIN base USING (g)
), mom AS (
  SELECT g, any_value(n) AS n, any_value(mu) AS mean,
    avg((x - mu) * (x - mu)) AS m2,
    avg((x - mu) * (x - mu) * (x - mu)) AS m3,
    avg((x - mu) * (x - mu) * (x - mu) * (x - mu)) AS m4,
    sum(CASE WHEN rn = floor(least(greatest(0.25 * n + 0.5, 1), n))
          THEN x * (1 - (least(greatest(0.25 * n + 0.5, 1), n)
                         - floor(least(greatest(0.25 * n + 0.5, 1), n))))
        WHEN rn = floor(least(greatest(0.25 * n + 0.5, 1), n)) + 1
          THEN x * (least(greatest(0.25 * n + 0.5, 1), n)
                    - floor(least(greatest(0.25 * n + 0.5, 1), n)))
        ELSE 0 END) AS p25,
    sum(CASE WHEN rn = floor(least(greatest(0.50 * n + 0.5, 1), n))
          THEN x * (1 - (least(greatest(0.50 * n + 0.5, 1), n)
                         - floor(least(greatest(0.50 * n + 0.5, 1), n))))
        WHEN rn = floor(least(greatest(0.50 * n + 0.5, 1), n)) + 1
          THEN x * (least(greatest(0.50 * n + 0.5, 1), n)
                    - floor(least(greatest(0.50 * n + 0.5, 1), n)))
        ELSE 0 END) AS median,
    sum(CASE WHEN rn = floor(least(greatest(0.75 * n + 0.5, 1), n))
          THEN x * (1 - (least(greatest(0.75 * n + 0.5, 1), n)
                         - floor(least(greatest(0.75 * n + 0.5, 1), n))))
        WHEN rn = floor(least(greatest(0.75 * n + 0.5, 1), n)) + 1
          THEN x * (least(greatest(0.75 * n + 0.5, 1), n)
                    - floor(least(greatest(0.75 * n + 0.5, 1), n)))
        ELSE 0 END) AS p75
  FROM c GROUP BY g
), md AS (
  SELECT g, x AS mode FROM (
    SELECT g, x, row_number() OVER (
      PARTITION BY g ORDER BY count(*) DESC, x) AS r
    FROM d GROUP BY g, x) WHERE r = 1
)
SELECT mom.g AS l_returnflag,
  CAST(n AS BIGINT) AS n,
  round(mean, 6) AS mean,
  round(CASE WHEN n > 1 THEN sqrt(m2 * n / (n - 1)) ELSE 0.0 END, 6) AS std,
  round(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END, 6) AS skew,
  round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END, 6) AS kurt,
  round(p25, 6) AS p25,
  round(median, 6) AS median,
  round(p75, 6) AS p75,
  round(md.mode, 6) AS mode
FROM mom JOIN md USING (g)
"""

QUERIES["matlab_moments"] = q_matlab_moments
_RAW_ORACLES["matlab_moments"] = SQL_MATLAB_MOMENTS


def q_series_stats(spark, sf_dir):
    """Window-expressible sequence kernels (ZCR / mean TKEO / AR1,
    kernels.py conventions) per user over the ts-ordered event values."""
    from mpds_spark.operators.windows import series_stats

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
    )
    out = series_stats(ev)
    return out.select(
        "entity_id",
        "n",
        _r6("zcr").alias("zcr"),
        _r6("tkeo_mean").alias("tkeo_mean"),
        _r6("ar1").alias("ar1"),
    )


SQL_SERIES_STATS = """
WITH d AS (
  SELECT user_id AS entity_id, epoch(ts) AS t, CAST(value AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT entity_id, x,
    lag(x) OVER (PARTITION BY entity_id ORDER BY t) AS p,
    lead(x) OVER (PARTITION BY entity_id ORDER BY t) AS nx
  FROM d
)
SELECT entity_id,
  count(*) AS n,
  round(coalesce(sum(CASE WHEN p IS NOT NULL
      THEN abs(CAST(x > 0 AS INT) - CAST(p > 0 AS INT)) END), 0)
    / CAST(count(*) AS DOUBLE), 6) AS zcr,
  round(avg(CASE WHEN p IS NOT NULL AND nx IS NOT NULL
      THEN x * x - nx * p END), 6) AS tkeo_mean,
  round(CASE WHEN sum(CASE WHEN p IS NOT NULL THEN p * p END) <> 0
      THEN sum(CASE WHEN p IS NOT NULL THEN p * x END)
           / sum(CASE WHEN p IS NOT NULL THEN p * p END) END, 6) AS ar1
FROM c GROUP BY entity_id
"""

QUERIES["series_stats"] = q_series_stats
_RAW_ORACLES["series_stats"] = SQL_SERIES_STATS


def q_validate_docs(spark, sf_dir):
    """Deequ-style expectation suite over documents in ONE aggregation
    pass: per-rule violation counts + verdicts."""
    from mpds_spark.operators.validate import (
        in_range,
        is_in,
        matches,
        not_null,
        unique,
        validate,
    )

    docs = load(spark, sf_dir, "documents")
    rules = [
        not_null("text"),
        unique("doc_id"),
        in_range("n_chars", 1, 100_000),
        matches("source", "^src[0-9]+$"),
        is_in("lang", ["en", "de", "fr", "es"]),
    ]
    return validate(docs, rules)


SQL_VALIDATE_DOCS = """
WITH a AS (
  SELECT count(*) AS n,
    sum(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END) AS v0,
    count(doc_id) - count(DISTINCT doc_id) AS v1,
    sum(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 0 ELSE 1 END) AS v2,
    sum(CASE WHEN coalesce(regexp_matches(source, '^src[0-9]+$'), FALSE)
        THEN 0 ELSE 1 END) AS v3,
    sum(CASE WHEN coalesce(lang IN ('en','de','fr','es'), FALSE)
        THEN 0 ELSE 1 END) AS v4
  FROM documents
)
SELECT 'not_null(text)' AS rule, n AS n_rows,
  CAST(v0 AS BIGINT) AS n_violations, v0 = 0 AS passes FROM a
UNION ALL SELECT 'unique(doc_id)', n, CAST(v1 AS BIGINT), v1 = 0 FROM a
UNION ALL SELECT 'in_range(n_chars,1,100000)', n, CAST(v2 AS BIGINT),
  v2 = 0 FROM a
UNION ALL SELECT 'matches(source)', n, CAST(v3 AS BIGINT), v3 = 0 FROM a
UNION ALL SELECT 'is_in(lang)', n, CAST(v4 AS BIGINT), v4 = 0 FROM a
"""

QUERIES["validate_docs"] = q_validate_docs
_RAW_ORACLES["validate_docs"] = SQL_VALIDATE_DOCS


def q_temperature_mix(spark, sf_dir):
    """Temperature-rebalanced mixture (alpha=0.5): per-source budgets
    proportional to sqrt(source token total), filled with the hash-order
    prefix."""
    from mpds_spark.operators.sampling import sample_tokens_temperature

    docs = load(spark, sf_dir, "documents")
    return sample_tokens_temperature(docs, total_budget=8000, alpha=0.5)


SQL_TEMPERATURE_MIX = """
WITH t AS (
  SELECT doc_id, source,
    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
    md5(source || '|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), tot AS (
  SELECT source, CAST(sum(n_tok) AS DOUBLE) AS tg FROM t GROUP BY source
), sw AS (SELECT sum(sqrt(tg)) AS s FROM tot),
b AS (
  SELECT source, CAST(floor(8000.0 * sqrt(tg) / s) AS BIGINT) AS budget
  FROM tot, sw
), c AS (
  SELECT doc_id, source, n_tok,
    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_tok
  FROM t
)
SELECT c.doc_id, c.source, c.n_tok, c.cum_tok, b.budget
FROM c JOIN b USING (source) WHERE c.cum_tok <= b.budget
"""

QUERIES["temperature_mix"] = q_temperature_mix
_RAW_ORACLES["temperature_mix"] = SQL_TEMPERATURE_MIX


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by content hash (90/5/5):
    per-split document and token counts."""
    from mpds_spark.operators.sampling import hash_split
    from mpds_spark.operators.dedup import words_col

    docs = load(spark, sf_dir, "documents")
    out = hash_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(words_col("text")).cast("long")).alias("n_tokens"),
        )
    )


SQL_HASH_SPLIT = """
WITH d AS (
  SELECT doc_id, text,
    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8))
         AS BIGINT) / 4294967296.0 AS u
  FROM documents
), s AS (
  SELECT CASE WHEN u < 0.9 THEN 'train'
              WHEN u < 0.95 THEN 'val'
              ELSE 'test' END AS split,
    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM d
)
SELECT split, count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM s GROUP BY split
"""

QUERIES["hash_split"] = q_hash_split
_RAW_ORACLES["hash_split"] = SQL_HASH_SPLIT


def q_redact_pii(spark, sf_dir):
    """PII redaction (emails / phones / IPv4) over a deterministic
    planted-PII text built from the customer table (the synthetic
    documents corpus contains no PII, so the fixture is constructed
    identically in both engines): per-row match counts + the md5 of the
    redacted text prove match-and-replace parity byte-for-byte."""
    from mpds_spark.operators.text import redact_pii

    c = load(spark, sf_dir, "customer")
    planted = c.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.lit("contact "),
            F.col("c_name"),
            F.lit(" at user"),
            F.col("c_custkey").cast("string"),
            F.lit("@example.com or 415-555-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("c_custkey") % 256).cast("string"),
            F.lit("."),
            F.col("c_nationkey").cast("string"),
            F.lit(" end"),
        ).alias("text"),
    )
    out = redact_pii(planted)
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5("text_redacted").alias("redacted_hash"),
    )


SQL_REDACT_PII = r"""
WITH planted AS (
  SELECT c_custkey AS doc_id,
    'contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
      || '@example.com or 415-555-'
      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
      || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.'
      || CAST(c_nationkey AS VARCHAR) || ' end' AS text
  FROM customer
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
    AS n_email,
  CAST(len(regexp_extract_all(text, '\d{3}[-.]\d{3}[-.]\d{4}')) AS BIGINT)
    AS n_phone,
  CAST(len(regexp_extract_all(text,
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g')
  ) AS redacted_hash
FROM planted
"""

QUERIES["redact_pii"] = q_redact_pii
_RAW_ORACLES["redact_pii"] = SQL_REDACT_PII


def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023, unigram features):
    target domain = the 'src0' slice of the corpus, source = the full
    corpus; per-doc sum/mean of ln p_t(w) - ln p_s(w), add-1 smoothed
    over the union vocabulary."""
    from mpds_spark.operators.text import dsir_logratio

    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    out = dsir_logratio(docs, target, alpha=1.0)
    return out.select(
        "doc_id",
        "n_words",
        _r6("dsir_logweight").alias("dsir_logweight"),
        _r6("dsir_logweight_mean").alias("dsir_logweight_mean"),
    )


SQL_DSIR_WEIGHTS = """
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), tw AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents WHERE source = 'src0'
), cs AS (SELECT word, count(*) AS cs FROM w GROUP BY word),
ct AS (SELECT word, count(*) AS ct FROM tw GROUP BY word),
vocab AS (
  SELECT coalesce(cs.word, ct.word) AS word,
    coalesce(cs.cs, 0) AS cs, coalesce(ct.ct, 0) AS ct
  FROM cs FULL OUTER JOIN ct ON cs.word = ct.word
), t AS (
  SELECT sum(cs) AS ns, sum(ct) AS nt, count(*) AS v FROM vocab
), lr AS (
  SELECT word,
    ln((ct + 1.0) / (t.nt + 1.0 * t.v)) - ln((cs + 1.0) / (t.ns + 1.0 * t.v))
      AS lr
  FROM vocab CROSS JOIN t
)
SELECT w.doc_id, count(*) AS n_words,
  round(sum(lr.lr), 6) AS dsir_logweight,
  round(avg(lr.lr), 6) AS dsir_logweight_mean
FROM w JOIN lr USING (word)
GROUP BY w.doc_id
"""

QUERIES["dsir_weights"] = q_dsir_weights
_RAW_ORACLES["dsir_weights"] = SQL_DSIR_WEIGHTS


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-group Bernoulli sample of documents (content-hash
    threshold, layout/engine-independent) with a per-source rate dict that
    also acts as a whitelist; per-group kept counts prove the selection."""
    from mpds_spark.operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, {"src0": 0.5, "src1": 0.25, "src2": 1.0}, group="source"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        )
    )


SQL_STRATIFIED_SAMPLE = """
WITH f(source, frac) AS (
  VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 1.0)
), d AS (
  SELECT d.source, d.n_chars,
    CAST(('0x' || substr(md5('strat|' || d.source || '|'
        || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS u,
    f.frac
  FROM documents d JOIN f USING (source)
)
SELECT source, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM d WHERE u < frac GROUP BY source
"""

QUERIES["stratified_sample"] = q_stratified_sample
_RAW_ORACLES["stratified_sample"] = SQL_STRATIFIED_SAMPLE


def q_centroid_outliers(spark, sf_dir):
    """Embedding outlier scoring vs per-label centroids (SemDeDup-style
    semantic-pruning signal): cosine of each vector to its label's mean
    vector; fit is the only exploded pass, scoring is an explosion-free
    broadcast join + JVM zip_with."""
    from mpds_spark.operators.similarity import centroid_outlier_scores

    emb = load(spark, sf_dir, "embeddings")
    out = centroid_outlier_scores(emb, group="label")
    return out.select(
        "vec_id", "label", _r6("centroid_cos").alias("centroid_cos")
    )


SQL_CENTROID_OUTLIERS = """
WITH e AS (
  SELECT vec_id, label,
    generate_subscripts(embedding, 1) AS pos,
    CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), c AS (
  SELECT label, pos, avg(x) AS cx FROM e GROUP BY label, pos
), d AS (
  SELECT e.vec_id, e.label,
    sum(e.x * c.cx) AS dot,
    sum(e.x * e.x) AS nx,
    sum(c.cx * c.cx) AS nc
  FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label,
  round(dot / (sqrt(nx) * sqrt(nc)), 6) AS centroid_cos
FROM d
"""

QUERIES["centroid_outliers"] = q_centroid_outliers
_RAW_ORACLES["centroid_outliers"] = SQL_CENTROID_OUTLIERS


def q_source_stats(spark, sf_dir):
    """Mixture audit: per-source document/token totals, mean and EXACT
    median doc length (distributed bracketed grouped quantile), and
    per-source vocabulary size — the report a curator reads before
    setting mixture budgets."""
    from mpds_spark.operators.dedup import words_col

    docs = load(spark, sf_dir, "documents")
    lens = docs.select(
        "source", F.size(words_col("text")).cast("long").alias("n_tok")
    )
    # n_tok is a low-cardinality integer per source, so the EXACT median
    # comes from a (source, n_tok) count frame + one cumulative window —
    # not the bracketed-quantile machinery (r4 plan was 8 exchanges +
    # 6 broadcast joins; this shape is 4 exchanges total). n_docs/
    # n_tokens/mean fold into the same frame, so the stats leg is
    # exchange(source,n_tok) -> exchange(source) [window, and the final
    # groupBy reuses that partitioning], and the vocab leg is 2 more.
    cnts = lens.groupBy("source", "n_tok").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = cnts.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("source"))
    )
    # quantile_cont(0.5): zero-based rank h = (n-1)/2; linear interpolation
    # between the values at floor(h) and ceil(h).
    i0 = F.floor((F.col("n") - 1) / 2)
    stats = c.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.sum(F.col("n_tok") * F.col("cnt")).alias("n_tokens"),
        _r6(F.sum(F.col("n_tok") * F.col("cnt")) / F.sum("cnt")).alias(
            "mean_tok"
        ),
        F.min(F.when(F.col("cum") >= i0 + 1, F.col("n_tok"))).alias("__v0"),
        F.min(F.when(F.col("cum") >= i0 + 2, F.col("n_tok"))).alias("__v1"),
    )
    h = (F.col("n_docs") - 1) / F.lit(2.0)
    frac = h - F.floor(h)
    median = F.col("__v0").cast("double") + frac * (
        F.coalesce("__v1", "__v0") - F.col("__v0")
    )
    vocab = (
        docs.select("source", F.explode(words_col("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.lit(1))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    return stats.join(vocab, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "mean_tok",
        median.alias("median_tok"),
        "vocab_size",
    )


SQL_SOURCE_STATS = """
WITH l AS (
  SELECT source, doc_id,
    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
), a AS (
  SELECT source, count(*) AS n_docs,
    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
    round(avg(n_tok), 6) AS mean_tok,
    quantile_cont(n_tok, 0.5) AS median_tok
  FROM l GROUP BY source
), v AS (
  SELECT source, count(DISTINCT word) AS vocab_size
  FROM (
    SELECT source,
      unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents
  ) GROUP BY source
)
SELECT a.source, a.n_docs, a.n_tokens, a.mean_tok, a.median_tok,
  v.vocab_size
FROM a JOIN v ON a.source = v.source
"""

QUERIES["source_stats"] = q_source_stats
_RAW_ORACLES["source_stats"] = SQL_SOURCE_STATS


def q_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join on the JVM-only window plan
    (dual-visibility payload, one sort): every event matched to the
    CLOSEST purchase of its user in either time direction, ties to the
    backward match, exact matches allowed.
    leakage_ok: nearest looks forward — label/eval use only."""
    from mpds_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
    )
    purchases = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        F.col("value").alias("pval"),
    )
    out = asof_join(
        ev,
        purchases,
        on="ts",
        by="entity_id",
        direction="nearest",
        leakage_ok=True,
    )
    return out.select("event_id", "entity_id", "ts", "pval", "ts_r")


SQL_ASOF_NEAREST = """
WITH e AS (
  SELECT event_id, user_id AS entity_id, epoch(ts) AS ts FROM events
), p AS (
  SELECT user_id AS entity_id, epoch(ts) AS ts, value AS pval FROM events
  WHERE event_type = 'purchase'
)
SELECT e.event_id, e.entity_id, e.ts, r.pval, r.ts AS ts_r
FROM e LEFT JOIN LATERAL (
  SELECT p.pval, p.ts FROM p
  WHERE p.entity_id = e.entity_id
  ORDER BY abs(e.ts - p.ts), p.ts LIMIT 1
) r ON TRUE
"""

QUERIES["asof_nearest"] = q_asof_nearest
_RAW_ORACLES["asof_nearest"] = SQL_ASOF_NEAREST


def q_dsir_resample(spark, sf_dir):
    """DSIR end-to-end: importance log-weights vs the src0 target domain,
    then Gumbel top-k importance resampling (the paper's selection step,
    = sampling w/o replacement proportional to the importance weight) —
    the 100 selected docs with their perturbed scores."""
    from mpds_spark.operators.sampling import importance_resample
    from mpds_spark.operators.text import dsir_logratio

    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    w = dsir_logratio(docs, target, alpha=1.0).select(
        "doc_id", F.col("dsir_logweight_mean").alias("lw")
    )
    out = importance_resample(w, "lw", n=100)
    return out.select(
        "doc_id", _r6("lw").alias("lw"), _r6("gumbel_score").alias("gumbel_score")
    )


SQL_DSIR_RESAMPLE = """
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), tw AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents WHERE source = 'src0'
), cs AS (SELECT word, count(*) AS cs FROM w GROUP BY word),
ct AS (SELECT word, count(*) AS ct FROM tw GROUP BY word),
vocab AS (
  SELECT coalesce(cs.word, ct.word) AS word,
    coalesce(cs.cs, 0) AS cs, coalesce(ct.ct, 0) AS ct
  FROM cs FULL OUTER JOIN ct ON cs.word = ct.word
), t AS (
  SELECT sum(cs) AS ns, sum(ct) AS nt, count(*) AS v FROM vocab
), lr AS (
  SELECT word,
    ln((ct + 1.0) / (t.nt + 1.0 * t.v)) - ln((cs + 1.0) / (t.ns + 1.0 * t.v))
      AS lr
  FROM vocab CROSS JOIN t
), lw AS (
  SELECT w.doc_id, avg(lr.lr) AS lw
  FROM w JOIN lr USING (word) GROUP BY w.doc_id
), g AS (
  SELECT doc_id, lw,
    lw + (-ln(-ln(
      (CAST(('0x' || substr(md5('resample|' || CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) + 0.5) / 4294967296.0
    ))) AS gumbel_score
  FROM lw
)
SELECT doc_id, round(lw, 6) AS lw, round(gumbel_score, 6) AS gumbel_score
FROM g ORDER BY gumbel_score DESC, doc_id LIMIT 100
"""

QUERIES["dsir_resample"] = q_dsir_resample
_RAW_ORACLES["dsir_resample"] = SQL_DSIR_RESAMPLE


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03, the MOSS
    algorithm) over documents: min 5-gram hash per 4-window, rightmost
    tie-break, full windows, deduped — every selected (position,
    fingerprint) pair value-checked."""
    from mpds_spark.operators.text import winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, n=5, w=4)


SQL_WINNOW_FINGERPRINTS = """
WITH wds AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), g AS (
  SELECT doc_id, ws,
    unnest(range(1, greatest(len(ws) - 5 + 1, 0) + 1)) AS i
  FROM wds WHERE len(ws) >= 5
), h AS (
  SELECT doc_id, i - 1 AS pos,
    md5(array_to_string(list_slice(ws, i, i + 4), ' ')) AS hh
  FROM g
), e AS (
  SELECT doc_id, pos,
    min(hh || lpad(CAST(999999 - pos AS VARCHAR), 6, '0'))
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS enc,
    count(*) OVER (PARTITION BY doc_id) AS n
  FROM h
)
SELECT DISTINCT doc_id,
  999999 - CAST(substr(enc, 33, 6) AS INT) AS pos,
  substr(enc, 1, 32) AS fingerprint
FROM e WHERE pos <= n - 4 OR pos = 0
"""

QUERIES["winnow_fingerprints"] = q_winnow_fingerprints
_RAW_ORACLES["winnow_fingerprints"] = SQL_WINNOW_FINGERPRINTS


def q_winnow_near_dups(spark, sf_dir):
    """MOSS-style near-dup pairs: docs sharing >= 2 winnowing
    fingerprints (guaranteed for any shared >= w+n-1-word passage),
    frequent-fingerprint guard before the pair join."""
    from mpds_spark.operators.text import winnow_near_dups

    docs = load(spark, sf_dir, "documents")
    return winnow_near_dups(docs, n=5, w=4, min_shared=2)


SQL_WINNOW_NEAR_DUPS = """
WITH wds AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), g AS (
  SELECT doc_id, ws,
    unnest(range(1, greatest(len(ws) - 5 + 1, 0) + 1)) AS i
  FROM wds WHERE len(ws) >= 5
), h AS (
  SELECT doc_id, i - 1 AS pos,
    md5(array_to_string(list_slice(ws, i, i + 4), ' ')) AS hh
  FROM g
), e AS (
  SELECT doc_id, pos,
    min(hh || lpad(CAST(999999 - pos AS VARCHAR), 6, '0'))
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS enc,
    count(*) OVER (PARTITION BY doc_id) AS n
  FROM h
), fp AS (
  SELECT DISTINCT doc_id, substr(enc, 1, 32) AS fingerprint
  FROM e WHERE pos <= n - 4 OR pos = 0
), ok AS (
  SELECT fingerprint FROM fp GROUP BY fingerprint HAVING count(*) <= 1000
), fpo AS (
  SELECT fp.doc_id, fp.fingerprint FROM fp JOIN ok USING (fingerprint)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM fpo a JOIN fpo b USING (fingerprint)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""

QUERIES["winnow_near_dups"] = q_winnow_near_dups
_RAW_ORACLES["winnow_near_dups"] = SQL_WINNOW_NEAR_DUPS


def q_multimodal_stats(spark, sf_dir):
    """Driver-gated multimodal decode (VERDICT r4 ask #6): 8 PCM-WAV + 8
    24-bit-BMP payloads built from integer (LCG / affine-mod) formulas via
    the real encoders (multimodal.py encode_wav_pcm16/encode_bmp24),
    decoded FOR REAL by the magic-sniffing default_decoder
    (multimodal.py:142), stats extracted through the Arrow mapInPandas map
    stage (decode_features:191). The oracle recomputes the identical stats
    from the generating formulas directly — a true encode -> decode ->
    extract differential. Integer-arithmetic signals keep the audio leg
    bit-exact (samples are dyadic rationals); the image gray divisions
    (/3.0, /255.0) are mirrored op-for-op in the SQL.

    Scale shape: payload decode is a pure map stage pipelined onto the
    scan — payloads never ride a shuffle; only (media_id, kind, stats)
    continue downstream."""
    import numpy as np

    from mpds_spark.operators.multimodal import (
        decode_features,
        encode_bmp24,
        encode_wav_pcm16,
    )

    rows = []
    for mid in range(8):
        n = 2000 + 50 * mid
        t = np.arange(n, dtype=np.int64)
        s = (1103515245 * t + 12345 + mid * 997) % 65536 - 32768
        rows.append(
            (mid, "audio", encode_wav_pcm16(s, 8000), (None, None, 8000, None, None))
        )
    for k in range(8):
        mid, h, w = 8 + k, 16 + k, 24 + k
        r = np.arange(h, dtype=np.int64)[:, None, None]
        c = np.arange(w, dtype=np.int64)[None, :, None]
        ch = np.arange(3, dtype=np.int64)[None, None, :]
        px = ((r * 31 + c * 7 + ch * 5 + mid * 13) % 256).astype(np.uint8)
        rows.append(
            (mid, "image", encode_bmp24(px), (w, h, None, None, None))
        )
    from mpds_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    def _extract(arr):
        v = np.asarray(arr, dtype=np.float64).ravel()
        m = v.mean()
        var = v @ v / v.size - m * m
        return np.array([v.size, m, np.sqrt(max(var, 0.0)), v.min(), v.max()])

    out = decode_features(media, _extract)
    f = lambda i: F.element_at("features", i)  # noqa: E731
    return out.select(
        "media_id",
        "kind",
        f(1).cast("long").alias("n"),
        _r6(f(2)).alias("mean_v"),
        _r6(f(3)).alias("std_v"),
        _r6(f(4)).alias("min_v"),
        _r6(f(5)).alias("max_v"),
    )


SQL_MULTIMODAL_STATS = """
WITH am AS (SELECT unnest(range(8)) AS mid),
audio AS (
  SELECT mid AS media_id,
         ((1103515245*t + 12345 + mid*997) % 65536 - 32768)/32768.0 AS v
  FROM (SELECT mid, unnest(range(2000 + 50*mid)) AS t FROM am)
),
im AS (SELECT unnest(range(8)) AS k),
imrc AS (
  SELECT k, rr // (24 + k) AS r, rr % (24 + k) AS c
  FROM (SELECT k, unnest(range((16 + k) * (24 + k))) AS rr FROM im)
),
img AS (
  SELECT 8 + k AS media_id,
         (((r*31 + c*7 + 0*5 + (8+k)*13) % 256)
        + ((r*31 + c*7 + 1*5 + (8+k)*13) % 256)
        + ((r*31 + c*7 + 2*5 + (8+k)*13) % 256))/3.0/255.0 AS v
  FROM imrc
),
allv AS (
  SELECT media_id, 'audio' AS kind, v FROM audio
  UNION ALL SELECT media_id, 'image' AS kind, v FROM img
)
SELECT media_id, kind, count(*) AS n,
       round(avg(v), 6) AS mean_v,
       round(sqrt(avg(v*v) - avg(v)*avg(v)), 6) AS std_v,
       round(min(v), 6) AS min_v,
       round(max(v), 6) AS max_v
FROM allv GROUP BY media_id, kind
"""

QUERIES["multimodal_stats"] = q_multimodal_stats
_RAW_ORACLES["multimodal_stats"] = SQL_MULTIMODAL_STATS


def q_tokenized_asof_features(spark, sf_dir):
    """The north-rule composition as ONE driver-gated row: a tokenized-
    sequence table (doc_id, tokens, n_tok, source — the BASELINE.json
    input_hint shape, derived deterministically from documents), per-
    sequence token-mass features computed JVM-side (F.aggregate — no
    Python), expanding per-entity derived features (windows.py:64, one
    entity exchange), then a backward point-in-time as-of join
    (asof.py:121, window strategy) against the entity event stream.
    Token arrays pass through byte-identical (md5 proof column).

    Oracle: the same pipeline in ANSI SQL — windows in identical ts order
    (bit-equal float accumulation) + DuckDB native ASOF JOIN."""
    docs = load(spark, sf_dir, "documents")
    seq = (
        docs.select(
            "doc_id", F.split(F.trim("text"), r"\s+").alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("entity_id", F.col("doc_id") % 16)
        .withColumn("ts", F.col("doc_id").cast("double"))
        .withColumn(
            "tok_mass",
            F.aggregate(
                "tokens", F.lit(0).cast("long"), lambda a, w: a + F.length(w)
            ),
        )
    )
    der = derived_features(
        seq.withColumn("dss", F.col("n_tok").cast("double")), value="dss"
    )
    events = seq.filter(F.col("doc_id") % 10 == 0).select(
        "entity_id", "ts", F.col("tok_mass").alias("event_mass")
    )
    out = asof_join(der, events, on="ts", by="entity_id")
    return out.select(
        "doc_id",
        "entity_id",
        "n_tok",
        "tok_mass",
        _r6("dss_avg").alias("avg_n_tok"),
        F.col("dss_max").alias("max_n_tok"),
        _r6("dss_rate_avg").alias("rate_avg"),
        "event_mass",
        F.col("ts_r").alias("event_ts"),
        F.md5(F.concat_ws(" ", "tokens")).alias("tok_hash"),
    )


SQL_TOKENIZED_ASOF_FEATURES = """
WITH s AS (
  SELECT doc_id, doc_id % 16 AS entity_id, CAST(doc_id AS DOUBLE) AS ts,
         ws, len(ws) AS n_tok,
         CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
           AS tok_mass
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents)
), f AS (
  SELECT *, CAST(n_tok AS DOUBLE) AS dss,
    CAST(row_number() OVER w AS DOUBLE) AS rn,
    sum(CAST(n_tok AS DOUBLE)) OVER we AS cs,
    max(CAST(n_tok AS DOUBLE)) OVER we AS dss_max,
    coalesce(CAST(n_tok AS DOUBLE) - lag(CAST(n_tok AS DOUBLE)) OVER w, 0.0)
      AS sd,
    coalesce(abs(ts - lag(ts) OVER w), 1.0) AS dt
  FROM s
  WINDOW w AS (PARTITION BY entity_id ORDER BY ts),
         we AS (PARTITION BY entity_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
), g AS (
  SELECT *, sum(sd/dt)
    OVER (PARTITION BY entity_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
    AS cs_rate
  FROM f
)
SELECT g.doc_id, g.entity_id, g.n_tok, g.tok_mass,
  round(cs/rn, 6) AS avg_n_tok,
  dss_max AS max_n_tok,
  round(cs_rate/rn, 6) AS rate_avg,
  e.event_mass, e.ts AS event_ts,
  md5(coalesce(array_to_string(g.ws, ' '), '')) AS tok_hash
FROM g ASOF LEFT JOIN
  (SELECT entity_id, ts, tok_mass AS event_mass FROM s
   WHERE doc_id % 10 = 0) e
  ON g.entity_id = e.entity_id AND g.ts >= e.ts
"""

QUERIES["tokenized_asof_features"] = q_tokenized_asof_features
_RAW_ORACLES["tokenized_asof_features"] = SQL_TOKENIZED_ASOF_FEATURES


def q_token_ngram_novelty(spark, sf_dir):
    """Novel-bigram rate per document vs all earlier documents
    (operators/text.py ngram_novelty): occurrence-linear min-owner
    aggregation — no doc-pair join, no window over the (skew-prone)
    n-gram key."""
    from mpds_spark.operators.text import ngram_novelty

    docs = load(spark, sf_dir, "documents")
    out = ngram_novelty(docs, text="text", id_col="doc_id", n=2)
    return out.select(
        "doc_id",
        "n_ngrams",
        "n_novel",
        _r6("novelty").alias("novelty"),
    )


SQL_TOKEN_NGRAM_NOVELTY = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), b AS (
  SELECT DISTINCT doc_id, bg FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
        AS bg
    FROM t WHERE len(ws) >= 2)
), nb AS (SELECT doc_id, count(*) AS n_ngrams FROM b GROUP BY doc_id),
fo AS (SELECT bg, min(doc_id) AS doc_id FROM b GROUP BY bg),
nn AS (SELECT doc_id, count(*) AS n_novel FROM fo GROUP BY doc_id)
SELECT nb.doc_id, nb.n_ngrams,
  coalesce(nn.n_novel, 0) AS n_novel,
  round(coalesce(nn.n_novel, 0)/CAST(nb.n_ngrams AS DOUBLE), 6) AS novelty
FROM nb LEFT JOIN nn USING (doc_id)
"""

QUERIES["token_ngram_novelty"] = q_token_ngram_novelty
_RAW_ORACLES["token_ngram_novelty"] = SQL_TOKEN_NGRAM_NOVELTY


def q_suffix_prefix_overlap(spark, sf_dir):
    """Packing-boundary suffix/prefix overlap between consecutive docs in
    the per-source packing stream order (operators/pairs.py
    suffix_prefix_overlap): per-source window + JVM higher-order compare,
    k <= 8."""
    from mpds_spark.operators.pairs import suffix_prefix_overlap

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.split(F.trim("text"), r"\s+").alias("tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    out = suffix_prefix_overlap(
        docs, tokens="tokens", part="source", order_cols=["h", "doc_id"]
    )
    return out.select(
        "source",
        "doc_id",
        F.size("tokens").cast("int").alias("n_tok"),
        F.col("n_tok_next").cast("int").alias("n_tok_next"),
        F.col("overlap").cast("int").alias("overlap"),
    )


SQL_SUFFIX_PREFIX_OVERLAP = """
WITH t AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS ws,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), p AS (
  SELECT source, doc_id, ws, len(ws) AS n1,
    lead(doc_id) OVER w AS next_doc_id,
    lead(ws) OVER w AS ws2
  FROM t WINDOW w AS (PARTITION BY source ORDER BY h, doc_id)
)
SELECT source, doc_id,
  CAST(n1 AS INT) AS n_tok,
  CAST(len(ws2) AS INT) AS n_tok_next,
  CAST(list_max(list_transform(range(1, 9), k ->
    CASE WHEN n1 >= k AND len(ws2) >= k
          AND ws[n1 - k + 1 : n1] = ws2[1 : k]
    THEN k ELSE 0 END)) AS INT) AS overlap
FROM p WHERE next_doc_id IS NOT NULL
"""

QUERIES["suffix_prefix_overlap"] = q_suffix_prefix_overlap
_RAW_ORACLES["suffix_prefix_overlap"] = SQL_SUFFIX_PREFIX_OVERLAP


def q_vocab_coverage(spark, sf_dir):
    """Per-source OOV rate against the global top-200 word vocabulary
    (operators/text.py vocab_coverage): TakeOrdered top-k + broadcast
    membership — never a global sort, never a shuffled join on the token
    stream."""
    from mpds_spark.operators.text import vocab_coverage

    docs = load(spark, sf_dir, "documents")
    out = vocab_coverage(docs, text="text", group="source", vocab_size=200)
    return out.select(
        "source",
        "n_tokens",
        "oov_tokens",
        _r6("oov_rate").alias("oov_rate"),
    )


SQL_VOCAB_COVERAGE = """
WITH w AS (
  SELECT source,
    unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), v AS (
  SELECT word FROM (SELECT word, count(*) AS c FROM w GROUP BY word)
  ORDER BY c DESC, word LIMIT 200
)
SELECT w.source,
  count(*) AS n_tokens,
  sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS oov_tokens,
  round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM w LEFT JOIN v USING (word) GROUP BY w.source
"""

QUERIES["vocab_coverage"] = q_vocab_coverage
_RAW_ORACLES["vocab_coverage"] = SQL_VOCAB_COVERAGE


def q_bigram_nll(spark, sf_dir):
    """Per-doc add-1 bigram LM negative log-likelihood, trained on the
    corpus itself (operators/text.py bigram_logprob_score): the
    local-coherence upgrade of unigram_nll. Occurrence-linear; context
    counts derived FROM the bigram counts (one corpus pass)."""
    from mpds_spark.operators.text import bigram_logprob_score

    docs = load(spark, sf_dir, "documents")
    out = bigram_logprob_score(docs, text="text", key="doc_id", alpha=1.0)
    return out.select(
        "doc_id", "n_bigrams", _r6("bigram_nll").alias("bigram_nll")
    )


SQL_BIGRAM_NLL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), occ AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(ws)), i ->
      struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b
  FROM t WHERE len(ws) >= 2
), o2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM occ),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM o2 GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1),
v AS (
  SELECT count(DISTINCT w) AS v FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM documents)
)
SELECT doc_id, count(*) AS n_bigrams,
  round(avg(-ln((c12 + 1.0) / (c1 + 1.0 * v))), 6) AS bigram_nll
FROM o2 JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY doc_id
"""

QUERIES["bigram_nll"] = q_bigram_nll
_RAW_ORACLES["bigram_nll"] = SQL_BIGRAM_NLL


def q_tfidf_top_terms(spark, sf_dir):
    """Per-source top-5 salient terms by tf-idf (operators/text.py
    tfidf_top_terms): the mixture-audit complement of vocab_coverage.
    Ranked on the ROUNDED score (duck_round, 6 digits) so near-ties break
    on the term, stably across engines."""
    from mpds_spark.operators.text import tfidf_top_terms

    docs = load(spark, sf_dir, "documents")
    out = tfidf_top_terms(
        docs, text="text", group="source", id_col="doc_id", k=5,
        rank_round=6,
    )
    return out.select(
        "source",
        F.col("rank").cast("int").alias("rank"),
        "term",
        "tf",
        "df",
        _r6("tfidf").alias("tfidf"),
    )


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT source, doc_id,
    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents
), tf AS (SELECT source, w, count(*) AS tf FROM toks GROUP BY source, w),
dfq AS (
  SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM toks)
  GROUP BY w
), nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
s AS (
  SELECT source, w, tf, df,
    tf * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS tfidf
  FROM tf JOIN dfq USING (w) CROSS JOIN nd
), r AS (
  SELECT source, w, tf, df, tfidf,
    row_number() OVER (
      PARTITION BY source ORDER BY round(tfidf, 6) DESC, w ASC) AS rank
  FROM s
)
SELECT source, CAST(rank AS INT) AS rank, w AS term, tf, df,
  round(tfidf, 6) AS tfidf
FROM r WHERE rank <= 5
"""

QUERIES["tfidf_top_terms"] = q_tfidf_top_terms
_RAW_ORACLES["tfidf_top_terms"] = SQL_TFIDF_TOP_TERMS


def q_domain_cap(spark, sf_dir):
    """Per-source frequency cap at 10 docs (operators/sampling.py
    cap_per_group): C4/RefinedWeb-style per-domain cap with a
    deterministic md5 priority; the naive global window is replaced by a
    verified hash prefilter so the hottest domain's sort is bounded by
    ~guard*n rows, not the domain size."""
    from mpds_spark.operators.sampling import cap_per_group

    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    return cap_per_group(
        docs, group="source", key="doc_id", n=10, seed="cap"
    ).select("source", "doc_id")


SQL_DOMAIN_CAP = """
WITH d AS (
  SELECT source, doc_id,
    md5(concat('cap', '|', source, '|', CAST(doc_id AS VARCHAR))) AS u
  FROM documents
), r AS (
  SELECT source, doc_id,
    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rk
  FROM d
)
SELECT source, doc_id FROM r WHERE rk <= 10
"""

QUERIES["domain_cap"] = q_domain_cap
_RAW_ORACLES["domain_cap"] = SQL_DOMAIN_CAP


def q_cross_source_overlap(spark, sf_dir):
    """Pairwise 8-gram contamination matrix between sources
    (operators/text.py cross_group_ngram_overlap): distinct-first, so the
    n-gram self-join is bounded at |sources| rows per key and cannot
    skew. Output is |sources|^2-bounded."""
    from mpds_spark.operators.text import cross_group_ngram_overlap

    docs = load(spark, sf_dir, "documents")
    out = cross_group_ngram_overlap(docs, text="text", group="source", n=8)
    return out.select(
        "g1",
        "g2",
        "shared",
        "n1",
        "n2",
        _r6("jaccard").alias("jaccard"),
        _r6("containment").alias("containment"),
    )


SQL_CROSS_SOURCE_OVERLAP = """
WITH t AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), g AS (
  SELECT DISTINCT source AS g,
    unnest(list_transform(range(1, len(ws) - 6), i ->
      array_to_string(ws[i:i+7], ' '))) AS gm
  FROM t WHERE len(ws) >= 8
), sizes AS (SELECT g, count(*) AS n FROM g GROUP BY g),
inter AS (
  SELECT a.g AS g1, b.g AS g2, count(*) AS shared
  FROM g a JOIN g b USING (gm) WHERE a.g < b.g GROUP BY a.g, b.g
)
SELECT g1, g2, shared, s1.n AS n1, s2.n AS n2,
  round(shared / CAST(s1.n + s2.n - shared AS DOUBLE), 6) AS jaccard,
  round(shared / CAST(least(s1.n, s2.n) AS DOUBLE), 6) AS containment
FROM inter
JOIN sizes s1 ON s1.g = inter.g1
JOIN sizes s2 ON s2.g = inter.g2
"""

QUERIES["cross_source_overlap"] = q_cross_source_overlap
_RAW_ORACLES["cross_source_overlap"] = SQL_CROSS_SOURCE_OVERLAP


def q_incremental_dedup(spark, sf_dir):
    """Incremental batch admission vs an existing corpus
    (operators/dedup.py incremental_keep): documents split at
    max(doc_id)//2 into corpus (old half) and batch (new half); every
    batch doc flagged batch_dup / exact_dup / near_dup (LSH candidates ->
    exact-Jaccard verify, batch-vs-corpus joins only) / keep."""
    from mpds_spark.operators.dedup import incremental_keep

    docs = load(spark, sf_dir, "documents")
    half = docs.agg((F.max("doc_id") / 2).cast("long")).collect()[0][0]
    corpus = docs.filter(F.col("doc_id") <= half)
    batch = docs.filter(F.col("doc_id") > half)
    return incremental_keep(
        batch, corpus, text="text", key="doc_id", k=8, band_size=2, n=3,
        threshold=0.5,
    ).select("doc_id", "batch_dup", "exact_dup", "near_dup", "keep")


SQL_INCREMENTAL_DEDUP = f"""
WITH half AS (SELECT max(doc_id) // 2 AS h FROM documents),
sh AS ({{shingle}}),
newd AS (
  SELECT doc_id, md5(text) AS th FROM documents, half WHERE doc_id > h
),
oldh AS (
  SELECT DISTINCT md5(text) AS th FROM documents, half WHERE doc_id <= h
),
first AS (SELECT th, min(doc_id) AS f FROM newd GROUP BY th),
sig AS (
  SELECT doc_id,
    {", ".join(f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8))}
  FROM sh GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {bi} AS band, h{2*bi} || '|' || h{2*bi+1} AS bh FROM sig"
      for bi in range(4))}
),
cand AS (
  SELECT DISTINCT n.doc_id AS nb, o.doc_id AS ob
  FROM bands n JOIN bands o ON n.band = o.band AND n.bh = o.bh, half
  WHERE n.doc_id > h AND o.doc_id <= h
),
sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
common AS (
  SELECT c.nb, c.ob, count(*) AS nc
  FROM cand c
  JOIN sh a ON a.doc_id = c.nb
  JOIN sh b ON b.doc_id = c.ob AND b.shingle = a.shingle
  GROUP BY c.nb, c.ob
),
near AS (
  SELECT DISTINCT c.nb AS doc_id
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.nb
  JOIN sizes sb ON sb.doc_id = c.ob
  WHERE c.nc / CAST(sa.ns + sb.ns - c.nc AS DOUBLE) >= 0.5
)
SELECT d.doc_id,
  (d.doc_id <> f.f) AS batch_dup,
  (o.th IS NOT NULL) AS exact_dup,
  (nr.doc_id IS NOT NULL) AS near_dup,
  (d.doc_id = f.f AND o.th IS NULL AND nr.doc_id IS NULL) AS keep
FROM newd d
JOIN first f USING (th)
LEFT JOIN oldh o ON o.th = d.th
LEFT JOIN near nr ON nr.doc_id = d.doc_id
""".format(shingle=_SHINGLE_SQL)

QUERIES["incremental_dedup"] = q_incremental_dedup
_RAW_ORACLES["incremental_dedup"] = SQL_INCREMENTAL_DEDUP


def q_boilerplate_segments(spark, sf_dir):
    """Corpus-frequent segment removal, the line-dedup stage of CCNet /
    RefinedWeb (operators/text.py remove_boilerplate_segments): docs split
    into 5-word segments; a segment occurring in >= 2 distinct docs of the
    same source is boilerplate and removed from every doc."""
    from mpds_spark.operators.text import remove_boilerplate_segments

    docs = load(spark, sf_dir, "documents")
    return remove_boilerplate_segments(docs, seg_words=5, min_docs=2)


SQL_BOILERPLATE_SEGMENTS = """
WITH w AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
),
seg AS (
  SELECT doc_id, source, i AS pos,
         array_to_string(words[(i*5+1):(i*5+5)], ' ') AS seg
  FROM w, LATERAL (SELECT unnest(range((len(words)+4)//5)) AS i) t
),
bp AS (
  SELECT source, seg FROM seg GROUP BY source, seg
  HAVING count(DISTINCT doc_id) >= 2
),
fl AS (
  SELECT s.doc_id, s.pos, s.seg, (b.seg IS NOT NULL) AS bp
  FROM seg s LEFT JOIN bp b ON b.source = s.source AND b.seg = s.seg
)
SELECT doc_id,
  count(*) AS n_seg,
  CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(sum(CASE WHEN NOT bp THEN len(regexp_split_to_array(seg, '\\s+'))
           ELSE 0 END) AS BIGINT) AS n_words_clean,
  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE NOT bp), '')
    AS text_clean
FROM fl GROUP BY doc_id
"""

QUERIES["boilerplate_segments"] = q_boilerplate_segments
_RAW_ORACLES["boilerplate_segments"] = SQL_BOILERPLATE_SEGMENTS


def q_quality_classifier(spark, sf_dir):
    """Hashed linear quality classifier with frozen deterministic weights
    (operators/text.py classifier_quality_score): per-word bucket hash ->
    integer weight sum -> mean-weight score -> rational fast-sigmoid
    keep-probability. Zero-shuffle map plan."""
    from mpds_spark.operators.text import classifier_quality_score

    docs = load(spark, sf_dir, "documents")
    out = classifier_quality_score(docs, n_buckets=4096)
    return out.select(
        "doc_id", "n_words", "sum_w",
        _r6("score").alias("score"), _r6("prob").alias("prob"), "label",
    )


SQL_QUALITY_CLASSIFIER = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
),
s AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(words, x ->
      CAST((('0x' || substring(md5(x), 1, 8))::UBIGINT % 4096) % 1001
           AS BIGINT) - 500)) AS BIGINT) AS sum_w
  FROM w
),
sc AS (SELECT *, sum_w / (500.0 * n_words) AS s0 FROM s)
SELECT doc_id, n_words, sum_w,
  round(s0, 6) AS score,
  round(0.5 + 0.5 * s0 / (1.0 + abs(s0)), 6) AS prob,
  (sum_w >= 0) AS label
FROM sc
"""

QUERIES["quality_classifier"] = q_quality_classifier
_RAW_ORACLES["quality_classifier"] = SQL_QUALITY_CLASSIFIER


def q_semdedup_keep(spark, sf_dir):
    """SemDeDup semantic-pruning keep-list (operators/similarity.py
    semdedup_keep): nearest-centroid assignment over the 8 lowest-id
    vectors as deterministic stand-in centroids, then within-cluster
    keep-min-id pruning at cosine >= 0.35."""
    from mpds_spark.operators.similarity import semdedup_keep

    emb = load(spark, sf_dir, "embeddings")
    out = semdedup_keep(emb, n_clusters=8, threshold=0.35)
    return out.select(
        "vec_id", "cluster", _r6("max_cos_prev").alias("max_cos_prev"), "keep"
    )


SQL_SEMDEDUP_KEEP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         FROM e ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(e.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv))
        DESC, c.cid) AS rk
    FROM e CROSS JOIN cent c) WHERE rk = 1
),
prev AS (
  SELECT b.vec_id AS ib,
    max(list_dot_product(ea.v, eb.v)
        / sqrt(list_dot_product(ea.v, ea.v))
        / sqrt(list_dot_product(eb.v, eb.v))) AS m
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  GROUP BY b.vec_id
)
SELECT g.vec_id, g.cid AS cluster,
  round(p.m, 6) AS max_cos_prev,
  coalesce(p.m < 0.35, TRUE) AS keep
FROM asg g LEFT JOIN prev p ON p.ib = g.vec_id
"""

QUERIES["semdedup_keep"] = q_semdedup_keep
_RAW_ORACLES["semdedup_keep"] = SQL_SEMDEDUP_KEEP


def q_ann_recall_audit(spark, sf_dir):
    """Per-query recall@3 of the LSH ANN path vs exact brute-force top-3
    (operators/similarity.py ann_recall_audit) over the 5 lowest-id
    query vectors — the self-audit that gates trusting the approximate
    index on a new corpus."""
    from mpds_spark.operators.similarity import ann_recall_audit

    emb = load(spark, sf_dir, "embeddings")
    out = ann_recall_audit(emb, emb.filter(F.col("vec_id") < 5), k=3, bits=4)
    return out.select(
        "query_id", "n_exact", "n_lsh", "n_hit", _r6("recall").alias("recall")
    )


SQL_ANN_RECALL_AUDIT = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS code
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, code FROM base WHERE vec_id < 5
), ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, b.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        list_dot_product(qv, b.v) / sqrt(list_dot_product(qv, qv))
          / sqrt(list_dot_product(b.v, b.v)) DESC, b.vec_id) AS rank
    FROM q, base b WHERE query_id <> b.vec_id
  ) WHERE rank <= 3
), ap AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, b.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        list_dot_product(qv, b.v) / sqrt(list_dot_product(qv, qv))
          / sqrt(list_dot_product(b.v, b.v)) DESC, b.vec_id) AS rank
    FROM q JOIN base b USING (code) WHERE query_id <> b.vec_id
  ) WHERE rank <= 3
), perq AS (
  SELECT e.query_id,
    CAST(count(*) AS BIGINT) AS n_exact,
    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hit
  FROM ex e LEFT JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
), nl AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_lsh FROM ap GROUP BY query_id
)
SELECT p.query_id, p.n_exact, coalesce(nl.n_lsh, 0) AS n_lsh, p.n_hit,
  round(p.n_hit / 3.0, 6) AS recall
FROM perq p LEFT JOIN nl USING (query_id)
"""

QUERIES["ann_recall_audit"] = q_ann_recall_audit
_RAW_ORACLES["ann_recall_audit"] = SQL_ANN_RECALL_AUDIT


def q_zipf_fit(spark, sf_dir):
    """Per-source Zipf rank-frequency fit (operators/text.py zipf_fit):
    ln-ln least squares over each source's top-64 words; slope drift from
    ~-1 flags templated/machine text before mixing a dump."""
    from mpds_spark.operators.text import zipf_fit

    docs = load(spark, sf_dir, "documents")
    out = zipf_fit(docs, top_v=64)
    return out.select(
        "source",
        "n_vocab",
        _r6("zipf_slope").alias("zipf_slope"),
        _r6("zipf_intercept").alias("zipf_intercept"),
    )


SQL_ZIPF_FIT = """
WITH w AS (
  SELECT source AS g, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
),
c AS (SELECT g, word, count(*) AS c FROM w GROUP BY g, word),
t AS (
  SELECT g, word, c,
    row_number() OVER (PARTITION BY g ORDER BY c DESC, word) AS r
  FROM c
),
top AS (SELECT * FROM t WHERE r <= 64),
a AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_vocab,
    list_sum(list(ln(r::DOUBLE) ORDER BY r)) AS sx,
    list_sum(list(ln(c::DOUBLE) ORDER BY r)) AS sy,
    list_sum(list(ln(r::DOUBLE) * ln(r::DOUBLE) ORDER BY r)) AS sxx,
    list_sum(list(ln(r::DOUBLE) * ln(c::DOUBLE) ORDER BY r)) AS sxy
  FROM top GROUP BY g
)
SELECT g AS source, n_vocab,
  round(CASE WHEN n_vocab * sxx - sx * sx <> 0 THEN
    (n_vocab * sxy - sx * sy) / (n_vocab * sxx - sx * sx) END, 6)
    AS zipf_slope,
  round(CASE WHEN n_vocab * sxx - sx * sx <> 0 THEN
    (sy - ((n_vocab * sxy - sx * sy) / (n_vocab * sxx - sx * sx)) * sx)
      / n_vocab END, 6) AS zipf_intercept
FROM a
"""

QUERIES["zipf_fit"] = q_zipf_fit
_RAW_ORACLES["zipf_fit"] = SQL_ZIPF_FIT


def q_length_ks_drift(spark, sf_dir):
    """Per-source two-sample KS drift of the word-length distribution vs
    the rest of the corpus (operators/validate.py length_ks_drift) — the
    mixture-shift alarm run per ingested dump."""
    from mpds_spark.operators.validate import length_ks_drift

    docs = load(spark, sf_dir, "documents")
    out = length_ks_drift(docs)
    return out.select("source", "n_docs", _r6("ks_stat").alias("ks_stat"))


SQL_LENGTH_KS_DRIFT = """
WITH d AS (
  SELECT source AS g,
    len(regexp_split_to_array(trim(text), '\\s+')) AS l
  FROM documents
),
cg AS (SELECT g, l, count(*) AS c FROM d GROUP BY g, l),
lens AS (SELECT DISTINCT l FROM cg),
grp AS (SELECT g, sum(c) AS n_g FROM cg GROUP BY g),
tot AS (SELECT count(*) AS n_all FROM d),
grid AS (SELECT grp.g, grp.n_g, lens.l FROM grp CROSS JOIN lens),
filled AS (
  SELECT grid.g, grid.l, grid.n_g, coalesce(cg.c, 0) AS c
  FROM grid LEFT JOIN cg ON cg.g = grid.g AND cg.l = grid.l
),
ca AS (
  SELECT l, sum(sum(c)) OVER (ORDER BY l) AS cum_all
  FROM cg GROUP BY l
),
cum AS (
  SELECT f.g, f.n_g, f.l,
    sum(f.c) OVER (PARTITION BY f.g ORDER BY f.l) AS cum_g,
    ca.cum_all
  FROM filled f JOIN ca USING (l)
)
SELECT g AS source, CAST(n_g AS BIGINT) AS n_docs,
  round(max(abs(cum_g / CAST(n_g AS DOUBLE)
    - (cum_all - cum_g) / CAST(n_all - n_g AS DOUBLE))), 6) AS ks_stat
FROM cum CROSS JOIN tot
GROUP BY g, n_g
"""

QUERIES["length_ks_drift"] = q_length_ks_drift
_RAW_ORACLES["length_ks_drift"] = SQL_LENGTH_KS_DRIFT


def q_heaps_fit(spark, sf_dir):
    """Per-source Heaps'-law vocabulary-growth fit (operators/text.py
    heaps_fit): ln V vs ln N least squares at power-of-two doc ranks;
    saturated (templated) or inflated (OCR/spam) vocabulary growth flags
    a dump before mixing — the companion check to zipf_fit."""
    from mpds_spark.operators.text import heaps_fit

    docs = load(spark, sf_dir, "documents")
    out = heaps_fit(docs)
    return out.select(
        "source",
        "n_docs",
        "n_points",
        _r6("heaps_beta").alias("heaps_beta"),
        _r6("heaps_ln_k").alias("heaps_ln_k"),
    )


SQL_HEAPS_FIT = """
WITH d AS (
  SELECT source AS g, doc_id AS k,
    regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
),
tok AS (SELECT g, k, CAST(len(ws) AS BIGINT) AS n_tok FROM d),
firsts AS (
  SELECT g, k, CAST(count(*) AS BIGINT) AS new_v FROM (
    SELECT g, word, min(k) AS k FROM (
      SELECT g, k, unnest(ws) AS word FROM d
    ) GROUP BY g, word
  ) GROUP BY g, k
),
per_doc AS (
  SELECT tok.g, tok.k, tok.n_tok, coalesce(firsts.new_v, 0) AS new_v
  FROM tok LEFT JOIN firsts ON firsts.g = tok.g AND firsts.k = tok.k
),
cum AS (
  SELECT g, k, row_number() OVER (PARTITION BY g ORDER BY k) AS r,
    sum(n_tok) OVER (PARTITION BY g ORDER BY k) AS cum_n,
    sum(new_v) OVER (PARTITION BY g ORDER BY k) AS cum_v
  FROM per_doc
),
ranked AS (
  SELECT g, r, cum_n, cum_v, max(r) OVER (PARTITION BY g) AS n_docs
  FROM cum
),
pts AS (
  SELECT * FROM ranked
  WHERE ((r & (r - 1)) = 0 OR r = n_docs) AND cum_n > 0 AND cum_v > 0
),
a AS (
  SELECT g, n_docs, CAST(count(*) AS BIGINT) AS n_points,
    list_sum(list(ln(cum_n::DOUBLE) ORDER BY r)) AS sx,
    list_sum(list(ln(cum_v::DOUBLE) ORDER BY r)) AS sy,
    list_sum(list(ln(cum_n::DOUBLE) * ln(cum_n::DOUBLE) ORDER BY r)) AS sxx,
    list_sum(list(ln(cum_n::DOUBLE) * ln(cum_v::DOUBLE) ORDER BY r)) AS sxy
  FROM pts GROUP BY g, n_docs
)
SELECT g AS source, CAST(n_docs AS BIGINT) AS n_docs, n_points,
  round(CASE WHEN n_points * sxx - sx * sx <> 0 THEN
    (n_points * sxy - sx * sy) / (n_points * sxx - sx * sx) END, 6)
    AS heaps_beta,
  round(CASE WHEN n_points * sxx - sx * sx <> 0 THEN
    (sy - ((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx)) * sx)
      / n_points END, 6) AS heaps_ln_k
FROM a
"""

QUERIES["heaps_fit"] = q_heaps_fit
_RAW_ORACLES["heaps_fit"] = SQL_HEAPS_FIT


def q_term_burstiness(spark, sf_dir):
    """Church-Gale dispersion of the corpus top-64 terms
    (operators/text.py term_burstiness): burstiness = cf/df and the
    within-containing-doc variance-to-mean ratio — content-vs-function
    term separation for stopword induction on a new corpus."""
    from mpds_spark.operators.text import term_burstiness

    docs = load(spark, sf_dir, "documents")
    out = term_burstiness(docs, top_v=64)
    return out.select(
        "word",
        "cf",
        "df",
        _r6("burstiness").alias("burstiness"),
        _r6("vmr").alias("vmr"),
    )


SQL_TERM_BURSTINESS = """
WITH wd AS (
  SELECT word, doc_id, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents
  ) GROUP BY word, doc_id
),
agg AS (
  SELECT word, CAST(sum(c) AS BIGINT) AS cf,
    CAST(count(*) AS BIGINT) AS df,
    CAST(sum(c * c) AS BIGINT) AS c2
  FROM wd GROUP BY word
),
top AS (SELECT * FROM agg ORDER BY cf DESC, word LIMIT 64)
SELECT word, cf, df,
  round(cf::DOUBLE / df::DOUBLE, 6) AS burstiness,
  round(CASE WHEN df >= 2 THEN
    ((c2::DOUBLE - cf::DOUBLE * cf::DOUBLE / df::DOUBLE)
      / (df::DOUBLE - 1.0)) / (cf::DOUBLE / df::DOUBLE) END, 6) AS vmr
FROM top
"""

QUERIES["term_burstiness"] = q_term_burstiness
_RAW_ORACLES["term_burstiness"] = SQL_TERM_BURSTINESS


def q_event_burstiness(spark, sf_dir):
    """Per-user inter-arrival burstiness B and memory coefficient M
    (Goh & Barabasi 2008; operators/windows.py event_burstiness) over the
    events stream — the temporal-pattern features separating Poisson
    activity from bursty or periodic behaviour."""
    from mpds_spark.operators.windows import event_burstiness

    ev = _events(spark, sf_dir)
    out = event_burstiness(ev, ts="ts", by="user_id", tiebreak="event_id")
    return out.select(
        "user_id",
        "n_events",
        _r6("mean_gap_s").alias("mean_gap_s"),
        _r6("burstiness_b").alias("burstiness_b"),
        _r6("memory_m").alias("memory_m"),
    )


SQL_EVENT_BURSTINESS = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
g AS (
  SELECT user_id, us, event_id,
    CAST(us - lag(us) OVER w AS HUGEINT) AS g
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
gg AS (
  SELECT user_id, g, lead(g) OVER w AS gn
  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
a AS (
  SELECT user_id,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(g) AS BIGINT) AS m,
    coalesce(sum(g), 0) AS s1,
    coalesce(sum(g * g), 0) AS s2,
    CAST(count(CASE WHEN g IS NOT NULL AND gn IS NOT NULL THEN 1 END)
      AS BIGINT) AS np,
    coalesce(sum(CASE WHEN g IS NOT NULL AND gn IS NOT NULL THEN g END), 0)
      AS sx,
    coalesce(sum(CASE WHEN g IS NOT NULL AND gn IS NOT NULL THEN gn END), 0)
      AS sy,
    coalesce(sum(g * gn), 0) AS sxy,
    coalesce(sum(CASE WHEN g IS NOT NULL AND gn IS NOT NULL THEN g * g END),
      0) AS sxx,
    coalesce(sum(CASE WHEN g IS NOT NULL AND gn IS NOT NULL THEN gn * gn END),
      0) AS syy
  FROM gg GROUP BY user_id HAVING count(g) >= 1
),
d AS (
  SELECT user_id, n_events, np,
    s1::DOUBLE / m::DOUBLE AS mu,
    sqrt(greatest(s2::DOUBLE / m::DOUBLE
      - (s1::DOUBLE / m::DOUBLE) * (s1::DOUBLE / m::DOUBLE), 0.0)) AS sigma,
    np::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS covn,
    np::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS vxn,
    np::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS vyn
  FROM a
)
SELECT user_id, n_events,
  round(mu / 1000000.0, 6) AS mean_gap_s,
  round(CASE WHEN sigma + mu <> 0.0 THEN (sigma - mu) / (sigma + mu) END, 6)
    AS burstiness_b,
  round(CASE WHEN np >= 3 AND vxn > 0.0 AND vyn > 0.0 THEN
    covn / (sqrt(vxn) * sqrt(vyn)) END, 6) AS memory_m
FROM d
"""

QUERIES["event_burstiness"] = q_event_burstiness
_RAW_ORACLES["event_burstiness"] = SQL_EVENT_BURSTINESS


def q_transition_entropy(spark, sf_dir):
    """Per-user Markov transition entropy of the event_type stream
    (operators/windows.py transition_entropy): H(next|cur), the
    current-state marginal entropy, and their predictability ratio —
    the session-predictability feature for bot/anomaly scoring."""
    from mpds_spark.operators.windows import transition_entropy

    ev = _events(spark, sf_dir)
    out = transition_entropy(
        ev, state="event_type", ts="ts", by="user_id", tiebreak="event_id"
    )
    return out.select(
        "user_id",
        "n_transitions",
        _r6("h_cond").alias("h_cond"),
        _r6("h_cur").alias("h_cur"),
        _r6("predictability_ratio").alias("predictability_ratio"),
    )


SQL_TRANSITION_ENTROPY = """
WITH o AS (
  SELECT user_id, event_type AS s,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
  FROM events
),
cells AS (
  SELECT user_id, p, s, CAST(count(*) AS BIGINT) AS c
  FROM o WHERE p IS NOT NULL GROUP BY user_id, p, s
),
rt AS (
  SELECT user_id, p, CAST(sum(c) AS BIGINT) AS n_i
  FROM cells GROUP BY user_id, p
),
tot AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY user_id
),
hc AS (
  SELECT cells.user_id,
    list_sum(list((c::DOUBLE / n::DOUBLE) * ln(n_i::DOUBLE / c::DOUBLE)
      ORDER BY cells.p, cells.s)) AS h_cond
  FROM cells
  JOIN rt ON rt.user_id = cells.user_id AND rt.p = cells.p
  JOIN tot ON tot.user_id = cells.user_id
  GROUP BY cells.user_id
),
hu AS (
  SELECT rt.user_id,
    list_sum(list((n_i::DOUBLE / n::DOUBLE) * ln(n::DOUBLE / n_i::DOUBLE)
      ORDER BY rt.p)) AS h_cur
  FROM rt JOIN tot ON tot.user_id = rt.user_id
  GROUP BY rt.user_id
)
SELECT tot.user_id, n AS n_transitions,
  round(h_cond, 6) AS h_cond,
  round(h_cur, 6) AS h_cur,
  round(CASE WHEN h_cur <> 0.0 THEN h_cond / h_cur END, 6)
    AS predictability_ratio
FROM tot
JOIN hc ON hc.user_id = tot.user_id
JOIN hu ON hu.user_id = tot.user_id
"""

QUERIES["transition_entropy"] = q_transition_entropy
_RAW_ORACLES["transition_entropy"] = SQL_TRANSITION_ENTROPY


def q_ewma_features(spark, sf_dir):
    """Per-user EWMA of the value stream (operators/windows.py
    ewma_features): the point-in-time momentum feature — the
    window-size-free analogue of the reference's expanding averages
    (dssFunctionLibrary.R:876-917). alpha = 1/4 (exact binary), fold
    over the (ts, event_id)-sorted array on both engines."""
    from mpds_spark.operators.windows import ewma_features

    ev = _events(spark, sf_dir)
    out = ewma_features(
        ev, value="value", ts="ts", by="user_id", alpha=0.25,
        tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "n_events",
        "last_value",
        _r6("ewma").alias("ewma"),
        _r6("ewma_gap").alias("ewma_gap"),
    )


SQL_EWMA_FEATURES = """
WITH a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    list(value ORDER BY ts, event_id) AS l
  FROM events GROUP BY user_id
),
f AS (
  SELECT user_id, n_events, l[len(l)] AS last_value,
    list_reduce(l, (acc, x) -> acc * 0.75::DOUBLE + x * 0.25::DOUBLE)
      AS ewma
  FROM a
)
SELECT user_id, n_events, last_value,
  round(ewma, 6) AS ewma,
  round(last_value - ewma, 6) AS ewma_gap
FROM f
"""

QUERIES["ewma_features"] = q_ewma_features
_RAW_ORACLES["ewma_features"] = SQL_EWMA_FEATURES


def q_cusum_changepoint(spark, sf_dir):
    """Per-user CUSUM level-shift scan (operators/windows.py
    cusum_changepoint): location/size of max_k |sum_{i<=k}(x_i - xbar)|
    plus the Brownian-bridge-normalized statistic — the behaviour-change
    detector over each entity's value stream, integer-exact argmax."""
    from mpds_spark.functions.timeutil import epoch_seconds
    from mpds_spark.operators.windows import cusum_changepoint

    ev = _events(spark, sf_dir)
    out = cusum_changepoint(
        ev, value="value", ts="ts", by="user_id", tiebreak="event_id"
    )
    return out.select(
        "user_id",
        "n_events",
        "cp_index",
        epoch_seconds(out, "cp_ts").alias("cp_ts"),
        _r6("cusum_max").alias("cusum_max"),
        _r6("cusum_stat").alias("cusum_stat"),
    )


SQL_CUSUM_CHANGEPOINT = """
WITH e AS (
  SELECT user_id, ts, event_id,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS HUGEINT) AS c
  FROM events
),
r AS (
  SELECT user_id, ts,
    CAST(row_number() OVER w AS HUGEINT) AS k,
    sum(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum,
    CAST(count(*) OVER p AS HUGEINT) AS n,
    sum(c) OVER p AS s1,
    sum(c * c) OVER p AS s2
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         p AS (PARTITION BY user_id)
),
s AS (
  SELECT user_id, ts, k, n, s1, s2,
    abs(n * cum - k * s1) AS a
  FROM r WHERE n >= 2
  QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY abs(n * cum - k * s1) DESC, k ASC
  ) = 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_events, CAST(k AS BIGINT) AS cp_index,
  epoch(ts) AS cp_ts,
  round(a::DOUBLE / (100.0::DOUBLE * n::DOUBLE), 6) AS cusum_max,
  round(CASE WHEN n * s2 - s1 * s1 > 0 THEN
    a::DOUBLE / (sqrt((n * s2 - s1 * s1)::DOUBLE) * sqrt(n::DOUBLE)) END, 6)
    AS cusum_stat
FROM s
"""

QUERIES["cusum_changepoint"] = q_cusum_changepoint
_RAW_ORACLES["cusum_changepoint"] = SQL_CUSUM_CHANGEPOINT


def q_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix (operators/funnels.py
    retention_cohorts): users cohorted by the Monday of their first
    event; (cohort, week_offset) active-user counts + retention rate —
    the point-in-time cohort anchor is a first-event as-of."""
    from mpds_spark.operators.funnels import retention_cohorts

    ev = _events(spark, sf_dir)
    out = retention_cohorts(ev, ts="ts", by="user_id")
    return out.select(
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        _r6("retention").alias("retention"),
    )


SQL_RETENTION_COHORTS = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
),
c AS (
  SELECT user_id, w, min(w) OVER (PARTITION BY user_id) AS w0 FROM uw
),
cells AS (
  SELECT w0 AS cohort_week, (w - w0) // 7 AS week_offset,
    CAST(count(*) AS BIGINT) AS n_active
  FROM c GROUP BY w0, (w - w0) // 7
),
sizes AS (
  SELECT cohort_week, n_active AS cohort_size FROM cells
  WHERE week_offset = 0
)
SELECT CAST(cells.cohort_week AS VARCHAR) AS cohort_week,
  CAST(week_offset AS BIGINT) AS week_offset, n_active, cohort_size,
  round(n_active::DOUBLE / cohort_size::DOUBLE, 6) AS retention
FROM cells JOIN sizes ON sizes.cohort_week = cells.cohort_week
"""

QUERIES["retention_cohorts"] = q_retention_cohorts
_RAW_ORACLES["retention_cohorts"] = SQL_RETENTION_COHORTS


def q_conversion_funnel(spark, sf_dir):
    """Ordered view -> click -> purchase funnel (operators/funnels.py
    conversion_funnel): per-user forward-chained first-occurrence scan
    (each step strictly after the previous, within 24 h of it),
    collapsed to stage counts and mean seconds from first step — the
    per-entity ordered state machine the reference builds for reaction
    chains (functions/battery.py reaction-lag), as a funnel."""
    from mpds_spark.operators.funnels import conversion_funnel

    ev = _events(spark, sf_dir)
    out = conversion_funnel(
        ev,
        steps=("view", "click", "purchase"),
        event_type="event_type",
        ts="ts",
        by="user_id",
        within=86400.0,
    )
    return out.select(
        "stage",
        "step",
        "n_entities",
        _r6("mean_s_to_stage").alias("mean_s_to_stage"),
    )


SQL_CONVERSION_FUNNEL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s0 AS (
  SELECT user_id, event_type, us,
    min(CASE WHEN event_type = 'view' THEN us END)
      OVER (PARTITION BY user_id) AS t0
  FROM e
),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND t0 IS NOT NULL
      AND us > t0 AND us <= t0 + 86400000000 THEN us END)
    OVER (PARTITION BY user_id) AS t1
  FROM s0
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL
      AND us > t1 AND us <= t1 + 86400000000 THEN us END)
    OVER (PARTITION BY user_id) AS t2
  FROM s1
),
u AS (SELECT DISTINCT user_id, t0, t1, t2 FROM s2),
st AS (
  SELECT user_id,
    CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
         WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS stage,
    CASE WHEN t2 IS NOT NULL THEN t2 - t0 WHEN t1 IS NOT NULL THEN t1 - t0
         WHEN t0 IS NOT NULL THEN 0 END AS lag_us
  FROM u
)
SELECT CAST(stage AS INTEGER) AS stage,
  CASE stage WHEN 1 THEN 'view' WHEN 2 THEN 'click' WHEN 3 THEN 'purchase'
    END AS step,
  CAST(count(*) AS BIGINT) AS n_entities,
  round(CASE WHEN stage > 0 THEN
    sum(lag_us)::DOUBLE / (count(*)::DOUBLE * 1000000.0::DOUBLE) END, 6)
    AS mean_s_to_stage
FROM st GROUP BY stage
"""

QUERIES["conversion_funnel"] = q_conversion_funnel
_RAW_ORACLES["conversion_funnel"] = SQL_CONVERSION_FUNNEL


def q_hourly_seasonality(spark, sf_dir):
    """Per-user hour-of-day circular activity profile
    (operators/windows.py hourly_seasonality): resultant length R,
    circular mean hour, peak hour and night fraction — diurnal-rhythm
    features; cos/sin weights are driver-computed literals shared by
    both engines (libm parity)."""
    from mpds_spark.operators.windows import hourly_seasonality

    ev = _events(spark, sf_dir)
    out = hourly_seasonality(ev, ts="ts", by="user_id")
    return out.select(
        "user_id",
        "n_events",
        "peak_hour",
        _r6("peak_frac").alias("peak_frac"),
        _r6("resultant_r").alias("resultant_r"),
        _r6("circ_mean_h").alias("circ_mean_h"),
        _r6("night_frac").alias("night_frac"),
    )


def _sql_hourly_seasonality() -> str:
    from mpds_spark.operators.windows import circular_weights

    cosw, sinw = circular_weights(24)
    cl = "[" + ", ".join(f"{x!r}::DOUBLE" for x in cosw) + "]"
    sl = "[" + ", ".join(f"{x!r}::DOUBLE" for x in sinw) + "]"
    return f"""
WITH cells AS (
  SELECT user_id, hour(ts) AS h, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, hour(ts)
),
agg AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
    list_sum(list(c::DOUBLE * ({cl})[h + 1] ORDER BY h)) AS sc,
    list_sum(list(c::DOUBLE * ({sl})[h + 1] ORDER BY h)) AS ss,
    coalesce(sum(c) FILTER (h < 6), 0) AS night
  FROM cells GROUP BY user_id
),
peak AS (
  SELECT user_id, h AS peak_hour, c AS peak_c FROM cells
  QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY c DESC, h ASC
  ) = 1
)
SELECT agg.user_id, n_events, CAST(peak_hour AS INTEGER) AS peak_hour,
  round(peak_c::DOUBLE / n_events::DOUBLE, 6) AS peak_frac,
  round(sqrt(sc * sc + ss * ss) / n_events::DOUBLE, 6) AS resultant_r,
  round(fmod(atan2(ss, sc) * {24.0 / 6.283185307179586!r}::DOUBLE
    + 24.0::DOUBLE, 24.0::DOUBLE), 6) AS circ_mean_h,
  round(night::DOUBLE / n_events::DOUBLE, 6) AS night_frac
FROM agg JOIN peak ON peak.user_id = agg.user_id
"""


QUERIES["hourly_seasonality"] = q_hourly_seasonality
_RAW_ORACLES["hourly_seasonality"] = _sql_hourly_seasonality()


def q_zscore_outliers(spark, sf_dir):
    """Per-user expanding z-score anomaly scan (operators/windows.py
    zscore_outliers): each event scored against STRICTLY PRIOR events
    only (zero leakage); outlier counts + the extreme event's signed z
    and timestamp, integer-exact inside the sqrt on both engines."""
    from mpds_spark.functions.timeutil import epoch_seconds
    from mpds_spark.operators.windows import zscore_outliers

    ev = _events(spark, sf_dir)
    out = zscore_outliers(
        ev, value="value", ts="ts", by="user_id", threshold=3.0,
        min_prior=5, tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "n_events",
        "n_scored",
        "n_outliers",
        _r6("max_abs_z").alias("max_abs_z"),
        _r6("z_at_max").alias("z_at_max"),
        epoch_seconds(out, "ts_at_max").alias("ts_at_max"),
    )


SQL_ZSCORE_OUTLIERS = """
WITH e AS (
  SELECT user_id, ts, event_id,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS HUGEINT) AS c
  FROM events
),
r AS (
  SELECT user_id, ts, c,
    CAST(row_number() OVER w AS HUGEINT) AS k,
    CAST(coalesce(count(c) OVER pw, 0) AS HUGEINT) AS m,
    coalesce(sum(c) OVER pw, 0::HUGEINT) AS c1,
    coalesce(sum(c * c) OVER pw, 0::HUGEINT) AS c2
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
    pw AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT user_id, ts, k,
    CASE WHEN m >= 5 AND m * c2 - c1 * c1 > 0 THEN
      (m * c - c1)::DOUBLE / sqrt((m * c2 - c1 * c1)::DOUBLE) END AS z
  FROM r
),
agg AS (
  SELECT user_id,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(z) AS BIGINT) AS n_scored,
    CAST(coalesce(sum(CASE WHEN abs(z) > 3.0 THEN 1 END), 0) AS BIGINT)
      AS n_outliers,
    max(abs(z)) AS max_abs_z
  FROM z GROUP BY user_id
),
best AS (
  SELECT user_id, z AS z_at_max, ts AS ts_at_max FROM z
  WHERE z IS NOT NULL
  QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY abs(z) DESC, k ASC
  ) = 1
)
SELECT agg.user_id, n_events, n_scored, n_outliers,
  round(max_abs_z, 6) AS max_abs_z,
  round(z_at_max, 6) AS z_at_max,
  epoch(ts_at_max) AS ts_at_max
FROM agg LEFT JOIN best ON best.user_id = agg.user_id
"""

QUERIES["zscore_outliers"] = q_zscore_outliers
_RAW_ORACLES["zscore_outliers"] = SQL_ZSCORE_OUTLIERS


def q_session_stats(spark, sf_dir):
    """Per-user session-shape summary (operators/sessionize.py
    session_stats): 30-minute gap-rule sessions rolled up to count,
    events, mean events/session, mean/max duration — the engagement
    features beside the per-event temporal windows, one entity-keyed
    exchange end to end."""
    from mpds_spark.operators.sessionize import session_stats

    ev = _events(spark, sf_dir)
    out = session_stats(ev, entity="user_id", ts="ts", gap=1800.0)
    return out.select(
        "user_id",
        "n_sessions",
        "n_events",
        _r6("mean_events").alias("mean_events"),
        _r6("mean_duration_s").alias("mean_duration_s"),
        _r6("max_duration_s").alias("max_duration_s"),
    )


SQL_SESSION_STATS = """
WITH m AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
         THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, us,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
),
per_session AS (
  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n,
    CAST(max(us) - min(us) AS BIGINT) AS dur_us
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(sum(n) AS BIGINT) AS n_events,
  round(sum(n)::DOUBLE / count(*)::DOUBLE, 6) AS mean_events,
  round(sum(dur_us)::DOUBLE / (count(*)::DOUBLE * 1000000.0), 6)
    AS mean_duration_s,
  round(max(dur_us)::DOUBLE / 1000000.0, 6) AS max_duration_s
FROM per_session GROUP BY user_id
"""

QUERIES["session_stats"] = q_session_stats
_RAW_ORACLES["session_stats"] = SQL_SESSION_STATS


def q_dedup_impact_report(spark, sf_dir):
    """Per-source dedup impact audit (operators/dedup.py
    dedup_impact_report): docs in multi-doc duplicate clusters, docs the
    keep-min rule removes, cluster counts and the word-mass cost —
    the report a curation run reads before committing a dedup pass.
    Gated here over EXACT-duplicate clusters (md5 groups — the cheapest
    first-pass report, one window) so the driver row prices the AUDIT,
    not a second run of the simhash pipeline near_dup_components
    already prices; the near-dup variant is the identical operator call
    on dedup_keep_list output (pytest-pinned in test_dedup.py)."""
    from mpds_spark.operators.dedup import dedup_impact_report

    docs = load(spark, sf_dir, "documents")
    comp = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    kl = docs.select(
        "doc_id",
        comp.alias("component"),
        (comp == F.col("doc_id")).alias("keep"),
    )
    out = dedup_impact_report(docs, kl, key="doc_id", group="source")
    return out.select(
        "source",
        "n_docs",
        "n_dup_docs",
        "n_removed",
        "n_clusters",
        "max_cluster_size",
        "words_total",
        "words_removed",
        _r6("pct_words_removed").alias("pct_words_removed"),
    )


SQL_DEDUP_IMPACT_REPORT = """
WITH kl AS (
  SELECT doc_id, source,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nw,
    min(doc_id) OVER (PARTITION BY md5(text)) AS component
  FROM documents
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY component) AS csize,
    (component = doc_id) AS keep
  FROM kl
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(coalesce(sum(CASE WHEN csize > 1 THEN 1 END), 0) AS BIGINT)
    AS n_dup_docs,
  CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0) AS BIGINT)
    AS n_removed,
  CAST(count(DISTINCT CASE WHEN csize > 1 THEN component END) AS BIGINT)
    AS n_clusters,
  CAST(max(csize) AS BIGINT) AS max_cluster_size,
  CAST(sum(nw) AS BIGINT) AS words_total,
  CAST(coalesce(sum(CASE WHEN NOT keep THEN nw END), 0) AS BIGINT)
    AS words_removed,
  round(coalesce(sum(CASE WHEN NOT keep THEN nw END), 0)::DOUBLE
    / sum(nw)::DOUBLE, 6) AS pct_words_removed
FROM sized GROUP BY source
"""

QUERIES["dedup_impact_report"] = q_dedup_impact_report
_RAW_ORACLES["dedup_impact_report"] = SQL_DEDUP_IMPACT_REPORT


def q_value_acf(spark, sf_dir):
    """Per-user value autocorrelation at lags 1-3 (operators/windows.py
    value_acf): persistence/periodicity features, exact integer moments
    multiplied through by n^2 so both engines divide identical doubles."""
    from mpds_spark.operators.windows import value_acf

    ev = _events(spark, sf_dir)
    out = value_acf(
        ev, value="value", ts="ts", by="user_id", lags=(1, 2, 3),
        tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "n_events",
        _r6("acf_1").alias("acf_1"),
        _r6("acf_2").alias("acf_2"),
        _r6("acf_3").alias("acf_3"),
    )


SQL_VALUE_ACF = """
WITH e AS (
  SELECT user_id, ts, event_id,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS HUGEINT) AS c
  FROM events
),
l AS (
  SELECT user_id, c,
    lag(c, 1) OVER w AS p1, lag(c, 2) OVER w AS p2, lag(c, 3) OVER w AS p3
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
a AS (
  SELECT user_id,
    CAST(count(*) AS HUGEINT) AS n,
    sum(c) AS s1, sum(c * c) AS s2,
    CAST(count(p1) AS HUGEINT) AS m1,
    coalesce(sum(c * p1), 0::HUGEINT) AS cc1,
    coalesce(sum(CASE WHEN p1 IS NOT NULL THEN c END), 0::HUGEINT) AS t1,
    coalesce(sum(p1), 0::HUGEINT) AS h1,
    CAST(count(p2) AS HUGEINT) AS m2,
    coalesce(sum(c * p2), 0::HUGEINT) AS cc2,
    coalesce(sum(CASE WHEN p2 IS NOT NULL THEN c END), 0::HUGEINT) AS t2,
    coalesce(sum(p2), 0::HUGEINT) AS h2,
    CAST(count(p3) AS HUGEINT) AS m3,
    coalesce(sum(c * p3), 0::HUGEINT) AS cc3,
    coalesce(sum(CASE WHEN p3 IS NOT NULL THEN c END), 0::HUGEINT) AS t3,
    coalesce(sum(p3), 0::HUGEINT) AS h3
  FROM l GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
  round(CASE WHEN m1 >= 1 AND n*n*s2 - n*s1*s1 > 0 THEN
    (n*n*cc1 - n*s1*(h1 + t1) + m1*s1*s1)::DOUBLE
      / (n*n*s2 - n*s1*s1)::DOUBLE END, 6) AS acf_1,
  round(CASE WHEN m2 >= 1 AND n*n*s2 - n*s1*s1 > 0 THEN
    (n*n*cc2 - n*s1*(h2 + t2) + m2*s1*s1)::DOUBLE
      / (n*n*s2 - n*s1*s1)::DOUBLE END, 6) AS acf_2,
  round(CASE WHEN m3 >= 1 AND n*n*s2 - n*s1*s1 > 0 THEN
    (n*n*cc3 - n*s1*(h3 + t3) + m3*s1*s1)::DOUBLE
      / (n*n*s2 - n*s1*s1)::DOUBLE END, 6) AS acf_3
FROM a
"""

QUERIES["value_acf"] = q_value_acf
_RAW_ORACLES["value_acf"] = SQL_VALUE_ACF


def q_behavior_divergence(spark, sf_dir):
    """Per-user behavioral-profile divergence vs the corpus event-type
    mix (operators/profiles.py behavior_divergence): KL in nats +
    exact-arithmetic total variation + modal type — the fingerprint
    feature that flags bots/broken integrations before any single-event
    rule fires."""
    from mpds_spark.operators.profiles import behavior_divergence

    ev = _events(spark, sf_dir)
    out = behavior_divergence(ev, state="event_type", by="user_id")
    return out.select(
        "user_id",
        "n_events",
        "n_types",
        "top_type",
        _r6("kl_global").alias("kl_global"),
        _r6("tv_global").alias("tv_global"),
    )


SQL_BEHAVIOR_DIVERGENCE = """
WITH cells AS (
  SELECT user_id, event_type AS s, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
),
gl AS (
  SELECT s, CAST(sum(c) AS BIGINT) AS g FROM cells GROUP BY s
),
tot AS (SELECT CAST(sum(g) AS BIGINT) AS nn FROM gl),
j AS (
  SELECT cells.user_id, cells.s, cells.c, gl.g, tot.nn,
    CAST(sum(c) OVER (PARTITION BY cells.user_id) AS BIGINT) AS n_u
  FROM cells JOIN gl USING (s) CROSS JOIN tot
),
a AS (
  SELECT user_id,
    max(n_u) AS n_events,
    CAST(count(*) AS BIGINT) AS n_types,
    max(nn) AS nn,
    CAST(sum(g) AS BIGINT) AS g_present,
    list_sum(list(
      (c::DOUBLE / n_u::DOUBLE)
      * ln((c::HUGEINT * nn::HUGEINT)::DOUBLE
           / (n_u::HUGEINT * g::HUGEINT)::DOUBLE)
      ORDER BY s)) AS kl,
    list_sum(list(
      abs(c::HUGEINT * nn::HUGEINT - n_u::HUGEINT * g::HUGEINT)
      ORDER BY s)) AS tv_present
  FROM j GROUP BY user_id
),
top AS (
  SELECT user_id, s AS top_type FROM cells
  QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY c DESC, s DESC
  ) = 1
)
SELECT a.user_id, n_events, n_types, top_type,
  round(kl, 6) AS kl_global,
  round((tv_present::DOUBLE
      + (n_events::HUGEINT * (nn::HUGEINT - g_present::HUGEINT))::DOUBLE)
    / (2.0 * n_events::DOUBLE * nn::DOUBLE), 6) AS tv_global
FROM a JOIN top ON top.user_id = a.user_id
"""

QUERIES["behavior_divergence"] = q_behavior_divergence
_RAW_ORACLES["behavior_divergence"] = SQL_BEHAVIOR_DIVERGENCE


def q_gap_quantiles(spark, sf_dir):
    """Per-user inter-arrival gap quantiles (p50/p90, exact interpolated)
    via the bracketed-selection grouped-quantile plan
    (operators/scale.py exact_grouped_quantiles_multi) — the survival-
    curve features beside burstiness; gaps are exact-microsecond
    differences divided once, so both engines interpolate identical
    doubles."""
    from mpds_spark.operators.scale import exact_grouped_quantiles_multi

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        ev.select("user_id", us.alias("__us"), "event_id")
        .withColumn("__gap", (F.col("__us") - F.lag("__us").over(
            Window.partitionBy("user_id").orderBy("__us", "event_id")
        )).cast("double") / 1e6)
        .filter(F.col("__gap").isNotNull())
    )
    out = exact_grouped_quantiles_multi(
        gaps, "user_id", "__gap", ps=[0.5, 0.9]
    )
    return out.select(
        "user_id",
        _r6("p").alias("p"),
        _r6("q___gap").alias("gap_q_s"),
    )


SQL_GAP_QUANTILES = """
WITH g AS (
  SELECT user_id,
    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
    ))::DOUBLE / 1000000.0 AS gap
  FROM events
),
f AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL)
SELECT user_id, 0.5 AS p,
  round(quantile_cont(gap, 0.5), 6) AS gap_q_s
FROM f GROUP BY user_id
UNION ALL
SELECT user_id, 0.9 AS p,
  round(quantile_cont(gap, 0.9), 6) AS gap_q_s
FROM f GROUP BY user_id
"""

QUERIES["gap_quantiles"] = q_gap_quantiles
_RAW_ORACLES["gap_quantiles"] = SQL_GAP_QUANTILES


def q_star_join_revenue(spark, sf_dir):
    """TPC-H-style star join (Q5 flavor): lineitem x orders co-keyed
    shuffle join, then the customer -> nation -> region dimension chain
    as BROADCAST hash joins (plan-asserted), rolled up to revenue per
    (region, nation, order year). Revenue sums exact integer
    cents*(100 - discount_pct) products, divided once — the float
    product order hazard never exists."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    ep_c = (
        F.signum("l_extendedprice")
        * F.floor(F.abs(F.col("l_extendedprice")) * 100 + F.lit(0.5))
    ).cast("long")
    d_c = (
        F.signum("l_discount")
        * F.floor(F.abs(F.col("l_discount")) * 100 + F.lit(0.5))
    ).cast("long")
    item = li.select(
        "l_orderkey", (ep_c * (F.lit(100) - d_c)).alias("__rev_c"),
    )
    j = (
        item.join(
            orders.select(
                "o_orderkey", "o_custkey",
                F.year(F.col("o_orderdate").cast("timestamp"))
                .alias("o_year"),
            ),
            item.l_orderkey == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name",
                                        "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.groupBy("r_name", "n_name", "o_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.count_distinct("l_orderkey").cast("long").alias("n_orders"),
            F.sum(F.col("__rev_c").cast("decimal(38,0)")).alias("__rev"),
        )
        .select(
            "r_name",
            "n_name",
            "o_year",
            "n_items",
            "n_orders",
            _r6(F.col("__rev").cast("double") / 10000.0).alias("revenue"),
        )
    )


SQL_STAR_JOIN_REVENUE = """
SELECT r_name, n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
  round(sum(CAST(floor(abs(l_extendedprice)*100 + 0.5)
              * sign(l_extendedprice) AS HUGEINT)
          * (100 - CAST(floor(abs(l_discount)*100 + 0.5)
              * sign(l_discount) AS HUGEINT)))::DOUBLE / 10000.0, 6)
    AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY r_name, n_name, year(o_orderdate)
"""

QUERIES["star_join_revenue"] = q_star_join_revenue
_RAW_ORACLES["star_join_revenue"] = SQL_STAR_JOIN_REVENUE


def q_asof_tolerance(spark, sf_dir):
    """Staleness-bounded as-of join (operators/asof.py asof_join
    tolerance=, merge_asof semantics): the last order within 7 days
    only — matches older than the bound are NULLed, the point-in-time
    freshness contract a feature store enforces. Oracle: native ASOF
    JOIN + the same staleness predicate."""
    from mpds_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderdate").cast("timestamp").cast("double").alias("ts"),
        "o_totalprice",
    )
    out = asof_join(
        ev, orders, on="ts", by="entity_id", tolerance=7 * 86400.0
    )
    return out.select(
        "event_id",
        F.col("o_totalprice").alias("recent_order_price"),
        _r6(F.col("ts") - F.col("ts_r")).alias("order_age_s"),
    )


SQL_ASOF_TOLERANCE = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t FROM events
), o AS (
  SELECT o_custkey, epoch(o_orderdate) AS t, o_totalprice FROM orders
)
SELECT e.event_id,
  CASE WHEN e.t - o.t <= 604800.0 THEN o.o_totalprice END
    AS recent_order_price,
  round(CASE WHEN e.t - o.t <= 604800.0 THEN e.t - o.t END, 6)
    AS order_age_s
FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.t >= o.t
"""

QUERIES["asof_tolerance"] = q_asof_tolerance
_RAW_ORACLES["asof_tolerance"] = SQL_ASOF_TOLERANCE

def q_trailing_features(spark, sf_dir):
    """Multi-horizon bounded trailing-window features at each event
    (operators/windows.py trailing_window_features): 1-hour and 24-hour
    trailing count + sum per user, both RANGE frames ordered on exact
    integer epoch micros and sharing ONE entity-keyed exchange — the
    feature-store rolling-features-at-event-time shape beside the
    expanding derived_features."""
    from mpds_spark.operators.windows import trailing_window_features

    ev = _events(spark, sf_dir)
    cents = (
        F.signum("value") * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
    ).cast("long")
    out = trailing_window_features(
        ev.withColumn("__c", cents),
        value="__c",
        ts="ts",
        by="user_id",
        horizons={"1h": 3600.0, "24h": 86400.0},
        extra=("event_id",),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_s").alias("ts"),
        "n_1h",
        (F.col("sum_1h").cast("double") / 100.0).alias("sum_1h"),
        "n_24h",
        (F.col("sum_24h").cast("double") / 100.0).alias("sum_24h"),
    )


SQL_TRAILING_FEATURES = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events
)
SELECT event_id, user_id, us::DOUBLE / 1000000.0 AS ts,
  CAST(count(*) OVER h1 AS BIGINT) AS n_1h,
  (sum(c) OVER h1)::DOUBLE / 100.0 AS sum_1h,
  CAST(count(*) OVER h24 AS BIGINT) AS n_24h,
  (sum(c) OVER h24)::DOUBLE / 100.0 AS sum_24h
FROM e
WINDOW
  h1 AS (PARTITION BY user_id ORDER BY us
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
  h24 AS (PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
"""

QUERIES["trailing_features"] = q_trailing_features
_RAW_ORACLES["trailing_features"] = SQL_TRAILING_FEATURES


def q_rfm_snapshot(spark, sf_dir):
    """Point-in-time RFM snapshot per customer as of 1998-06-30
    (operators/snapshots.py rfm_snapshot): recency/tenure in whole days,
    lifetime frequency + exact-cents monetary, and the 90-day recent
    window as conditional aggregates — one grouped pass, cutoff filter
    pushed into the parquet scan, zero leakage past the cutoff."""
    from mpds_spark.operators.snapshots import rfm_snapshot

    orders = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice")
        * F.floor(F.abs(F.col("o_totalprice")) * 100 + F.lit(0.5))
    ).cast("long")
    out = rfm_snapshot(
        orders.withColumn("__amt_c", cents),
        entity="o_custkey",
        ts="o_orderdate",
        amount="__amt_c",
        cutoff="1998-06-30 00:00:00",
        recent_window_s=90 * 86400.0,
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        "frequency",
        "recency_days",
        "tenure_days",
        (F.col("monetary_c").cast("double") / 100.0).alias("monetary"),
        "n_recent",
        (F.col("monetary_recent_c").cast("double") / 100.0)
        .alias("monetary_recent"),
        F.col("last_ts_s").alias("last_order_ts"),
    )


SQL_RFM_SNAPSHOT = """
WITH o AS (
  SELECT o_custkey, epoch_us(o_orderdate) AS us,
    CAST(floor(abs(o_totalprice)*100 + 0.5)*sign(o_totalprice) AS HUGEINT)
      AS c
  FROM orders
  WHERE o_orderdate <= TIMESTAMP '1998-06-30 00:00:00'
), p AS (
  SELECT epoch_us(TIMESTAMP '1998-06-30 00:00:00') AS cut
)
SELECT o_custkey AS custkey,
  CAST(count(*) AS BIGINT) AS frequency,
  CAST(floor((cut - max(us)) / 86400000000.0) AS BIGINT) AS recency_days,
  CAST(floor((cut - min(us)) / 86400000000.0) AS BIGINT) AS tenure_days,
  sum(c)::DOUBLE / 100.0 AS monetary,
  CAST(coalesce(sum(CASE WHEN us >= cut - 7776000000000 THEN 1 END), 0)
    AS BIGINT) AS n_recent,
  coalesce(sum(CASE WHEN us >= cut - 7776000000000 THEN c END),
           0::HUGEINT)::DOUBLE / 100.0 AS monetary_recent,
  max(us)::DOUBLE / 1000000.0 AS last_order_ts
FROM o, p
GROUP BY o_custkey, cut
"""

QUERIES["rfm_snapshot"] = q_rfm_snapshot
_RAW_ORACLES["rfm_snapshot"] = SQL_RFM_SNAPSHOT


def q_ohlc_bars(spark, sf_dir):
    """Per-user daily OHLC bars (operators/snapshots.py ohlc_bars):
    open/close = first/last event value in the bar (row_number()=1
    conditional aggregates, event_id tie-break), high/low = exact-cents
    max/min — the bucketed-bar rollup where both windows and the group
    rollup reuse ONE (entity, bar) exchange, never a self-join back for
    the open row."""
    from mpds_spark.operators.snapshots import ohlc_bars

    ev = _events(spark, sf_dir)
    cents = (
        F.signum("value") * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
    ).cast("long")
    out = ohlc_bars(
        ev.withColumn("__c", cents),
        entity="user_id",
        ts="ts",
        value="__c",
        tiebreak="event_id",
        bucket_s=86400,
    )
    return out.select(
        "user_id",
        "bar_start_s",
        "n_events",
        (F.col("open_c").cast("double") / 100.0).alias("open"),
        (F.col("high_c").cast("double") / 100.0).alias("high"),
        (F.col("low_c").cast("double") / 100.0).alias("low"),
        (F.col("close_c").cast("double") / 100.0).alias("close"),
    )


SQL_OHLC_BARS = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events
), r AS (
  SELECT user_id, us // 86400000000 AS bar, c,
    row_number() OVER (PARTITION BY user_id, us // 86400000000
                       ORDER BY us, event_id) AS ra,
    row_number() OVER (PARTITION BY user_id, us // 86400000000
                       ORDER BY us DESC, event_id DESC) AS rd
  FROM e
)
SELECT user_id, bar * 86400.0 AS bar_start_s,
  CAST(count(*) AS BIGINT) AS n_events,
  max(CASE WHEN ra = 1 THEN c END)::DOUBLE / 100.0 AS open,
  max(c)::DOUBLE / 100.0 AS high,
  min(c)::DOUBLE / 100.0 AS low,
  max(CASE WHEN rd = 1 THEN c END)::DOUBLE / 100.0 AS close
FROM r GROUP BY user_id, bar
"""

QUERIES["ohlc_bars"] = q_ohlc_bars
_RAW_ORACLES["ohlc_bars"] = SQL_OHLC_BARS

def q_quantile_transform(spark, sf_dir):
    """Rank-based normalization of each event's value within its user's
    history (operators/windows.py rank_normalize): percent_rank +
    cume_dist — tie-stable SQL rank windows over exact-cents order, one
    entity-keyed exchange; the distribution-free feature scaling beside
    the z-score/robust scalers."""
    from mpds_spark.operators.windows import rank_normalize

    ev = _events(spark, sf_dir)
    cents = (
        F.signum("value") * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
    ).cast("long")
    out = rank_normalize(
        ev.select("event_id", "user_id", cents.alias("__c")),
        value="__c",
        by="user_id",
        extra=("event_id",),
    )
    return out.select(
        "event_id",
        "user_id",
        (F.col("__c").cast("double") / 100.0).alias("value"),
        F.col("pct_rank"),
        F.col("cume_dist"),
    )


SQL_QUANTILE_TRANSFORM = """
WITH e AS (
  SELECT event_id, user_id,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events
)
SELECT event_id, user_id, c::DOUBLE / 100.0 AS value,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cume_dist
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY c)
"""

QUERIES["quantile_transform"] = q_quantile_transform
_RAW_ORACLES["quantile_transform"] = SQL_QUANTILE_TRANSFORM


def q_event_pivot(spark, sf_dir):
    """Wide per-entity feature materialization: event-type counts
    pivoted to columns via groupBy().pivot() with an EXPLICIT value
    list (no schema-inference distinct job — the pivot plans as
    conditional aggregates in ONE grouped pass), plus exact-cents
    purchase monetary — the one-row-per-entity feature table a trainer
    joins against."""
    ev = _events(spark, sf_dir)
    cents = (
        F.signum("value") * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
    ).cast("long")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.select("user_id", "event_type", cents.alias("__c"))
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__c").alias("s"),
        )
    )
    cols = [F.col("user_id")]
    for t in types:
        cols.append(
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long")
            .alias(f"n_{t}")
        )
    cols.append(
        (F.coalesce(F.col("purchase_s"), F.lit(0)).cast("double") / 100.0)
        .alias("purchase_value")
    )
    return wide.select(*cols)


SQL_EVENT_PIVOT = """
SELECT user_id,
  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0)
    AS BIGINT) AS n_click,
  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0)
    AS BIGINT) AS n_error,
  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
    AS BIGINT) AS n_purchase,
  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0)
    AS BIGINT) AS n_signup,
  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0)
    AS BIGINT) AS n_view,
  coalesce(sum(CASE WHEN event_type = 'purchase' THEN
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) END),
    0)::DOUBLE / 100.0 AS purchase_value
FROM events
GROUP BY user_id
"""

QUERIES["event_pivot"] = q_event_pivot
_RAW_ORACLES["event_pivot"] = SQL_EVENT_PIVOT

def q_gini_concentration(spark, sf_dir):
    """Per-source Gini coefficient of document character mass
    (operators/validate.py gini_concentration): the mixture-inequality
    audit beside source_stats/domain_cap — exact decimal(38,0) rank-sum
    arithmetic with a tie-invariant sum, ONE group-keyed exchange."""
    from mpds_spark.operators.validate import gini_concentration

    docs = load(spark, sf_dir, "documents")
    out = gini_concentration(docs, value="n_chars", by="source")
    return out.select(
        "source", "n_docs", "total_mass", _r6("gini").alias("gini")
    )


SQL_GINI_CONCENTRATION = """
WITH r AS (
  SELECT source, n_chars::HUGEINT AS x,
    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars)
      AS HUGEINT) AS i
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(x) AS BIGINT) AS total_mass,
  round(CASE WHEN sum(x) > 0 THEN
    (2*sum(i*x) - (count(*)::HUGEINT + 1) * sum(x))::DOUBLE
      / ((count(*)::HUGEINT * sum(x))::DOUBLE) END, 6) AS gini
FROM r GROUP BY source
"""

QUERIES["gini_concentration"] = q_gini_concentration
_RAW_ORACLES["gini_concentration"] = SQL_GINI_CONCENTRATION


def q_hot_key_audit(spark, sf_dir):
    """Distributed hot-key skew audit (operators/salting.py
    hot_key_audit): per-entity event counts rolled into exact
    floor(log2) buckets via length(bin(count))-1 — integer string ops,
    never floor(log2()) on a double — the distribution read before
    choosing chunk_span / enabling salting; skew collapses at the
    entity-keyed partial agg."""
    from mpds_spark.operators.salting import hot_key_audit

    ev = _events(spark, sf_dir)
    return hot_key_audit(ev, entity="user_id")


SQL_HOT_KEY_AUDIT = """
WITH c AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
)
SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_bucket,
  CAST(count(*) AS BIGINT) AS n_entities,
  CAST(sum(c) AS BIGINT) AS n_events,
  CAST(min(c) AS BIGINT) AS min_count,
  CAST(max(c) AS BIGINT) AS max_count
FROM c GROUP BY 1
"""

QUERIES["hot_key_audit"] = q_hot_key_audit
_RAW_ORACLES["hot_key_audit"] = SQL_HOT_KEY_AUDIT

def q_rollup_activity(spark, sf_dir):
    """Multi-level OLAP rollup: event counts + exact-cents value totals
    at (event_type, hour), (event_type), and grand-total grains in ONE
    pass via df.rollup() — Spark's Expand + single aggregate (each input
    row fans out to its grouping sets before the one exchange; no
    per-grain re-scan). NULL group markers are unambiguous because both
    grouping columns are non-null."""
    ev = _events(spark, sf_dir)
    cents = (
        F.signum("value") * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
    ).cast("long")
    hour = F.hour(F.col("ts").cast("timestamp")).cast("long")
    return (
        ev.select("event_type", hour.alias("hour"), cents.alias("__c"))
        .rollup("event_type", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.sum("__c").cast("double") / 100.0).alias("sum_value"),
        )
    )


SQL_ROLLUP_ACTIVITY = """
SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour,
  CAST(count(*) AS BIGINT) AS n_events,
  sum(CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT))::DOUBLE
    / 100.0 AS sum_value
FROM events
GROUP BY ROLLUP(event_type, hour(ts))
"""

QUERIES["rollup_activity"] = q_rollup_activity
_RAW_ORACLES["rollup_activity"] = SQL_ROLLUP_ACTIVITY

def q_bucketed_join(spark, sf_dir):
    """Bucketed CO-LOCATED entity join (sources/bucketed.py): events and
    orders written once as bucketBy(user-key)+sortBy tables (≙ Iceberg
    bucket(N, entity) transform), then a MERGE-hinted equi-join and the
    per-user rollup run with ZERO shuffle exchanges — the
    write-once/join-many layout that is the single biggest win at 10^12
    rows. Tables are cached per (sf_dir, row count) and rebuilt only
    when the source changes; the oracle joins the raw parquet, so the
    row prices layout equivalence, not just the plan."""
    import hashlib
    import os

    from mpds_spark.sources.bucketed import write_bucketed

    ev = _events(spark, sf_dir)
    orders = load(spark, sf_dir, "orders")
    h = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    t_ev, t_or = f"mpds_bkt_events_{h}", f"mpds_bkt_orders_{h}"

    def ensure(table, src, entity, ts):
        if spark.catalog.tableExists(table):
            if spark.table(table).count() == src.count():
                return
        else:
            # a prior session's in-memory catalog may have left the
            # managed location on disk without a catalog entry — a
            # fresh write would fail LOCATION_ALREADY_EXISTS
            import shutil

            wh = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            loc = os.path.join(wh, table)
            if os.path.isdir(loc):
                shutil.rmtree(loc)
        write_bucketed(src, table, entity=entity, ts=ts, n_buckets=8)

    ensure(t_ev, ev, "user_id", "ts")
    ensure(t_or, orders, "o_custkey", "o_orderdate")
    e = spark.table(t_ev).select("user_id", "event_id")
    cents = (
        F.signum("o_totalprice")
        * F.floor(F.abs(F.col("o_totalprice")) * 100 + F.lit(0.5))
    ).cast("long")
    o = spark.table(t_or).select(
        F.col("o_custkey"), "o_orderkey", cents.alias("__c")
    )
    j = e.join(o.hint("merge"), e.user_id == o.o_custkey)
    return (
        j.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count_distinct("o_orderkey").cast("long").alias("n_orders"),
            (F.sum(F.col("__c").cast("decimal(38,0)")).cast("double")
             / 100.0).alias("pair_value"),
        )
    )


SQL_BUCKETED_JOIN = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
  sum(CAST(floor(abs(o_totalprice)*100 + 0.5)*sign(o_totalprice)
    AS HUGEINT))::DOUBLE / 100.0 AS pair_value
FROM events JOIN orders ON user_id = o_custkey
GROUP BY user_id
"""

QUERIES["bucketed_join"] = q_bucketed_join
_RAW_ORACLES["bucketed_join"] = SQL_BUCKETED_JOIN

def q_dense_daily_counts(spark, sf_dir):
    """Dense per-user daily grid with zero-fill (operators/backfill.py
    densify_daily): sequence()-exploded generated dimension between each
    user's first and last day, left-joined back to the per-day partial
    agg — silent days appear with n_events=0/sum 0.00, the grid a
    fixed-stride windowed model convolves over."""
    from mpds_spark.operators.backfill import densify_daily

    ev = _events(spark, sf_dir)
    cents = (
        F.signum("value") * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
    ).cast("long")
    out = densify_daily(
        ev.withColumn("__c", cents),
        ts="ts",
        entity="user_id",
        value="__c",
        bucket_s=86400,
    )
    return out.select(
        "user_id",
        "bucket_start_s",
        "n_events",
        (F.col("sum_value").cast("double") / 100.0).alias("sum_value"),
    )


SQL_DENSE_DAILY_COUNTS = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS b,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS HUGEINT) AS c
  FROM events
), pd AS (
  SELECT user_id, b, CAST(count(*) AS BIGINT) AS n, sum(c) AS s
  FROM e GROUP BY user_id, b
), sp AS (
  SELECT user_id, min(b) AS b0, max(b) AS b1 FROM pd GROUP BY user_id
), g AS (
  SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM sp
)
SELECT g.user_id, g.b * 86400.0 AS bucket_start_s,
  coalesce(pd.n, 0)::BIGINT AS n_events,
  coalesce(pd.s, 0::HUGEINT)::DOUBLE / 100.0 AS sum_value
FROM g LEFT JOIN pd ON g.user_id = pd.user_id AND g.b = pd.b
"""

QUERIES["dense_daily_counts"] = q_dense_daily_counts
_RAW_ORACLES["dense_daily_counts"] = SQL_DENSE_DAILY_COUNTS


def q_temporal_split(spark, sf_dir):
    """Leakage-correct per-user temporal train/test split
    (operators/sampling.py temporal_split): each user's time-ordered
    history cut at 80% with an integer-exact rank*100 <= pct*n rule —
    every training row strictly precedes every test row; the split a
    temporal model must use where hash_split would leak the future."""
    from mpds_spark.operators.sampling import temporal_split

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    out = temporal_split(
        ev, ts="ts", entity="user_id", train_frac_pct=80,
        tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", "split_rank", "split_n", "split"
    )


SQL_TEMPORAL_SPLIT = """
WITH r AS (
  SELECT event_id, user_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS BIGINT) AS split_rank,
    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS split_n
  FROM events
)
SELECT event_id, user_id, split_rank, split_n,
  CASE WHEN split_rank * 100 <= 80 * split_n THEN 'train' ELSE 'test' END
    AS split
FROM r
"""

QUERIES["temporal_split"] = q_temporal_split
_RAW_ORACLES["temporal_split"] = SQL_TEMPORAL_SPLIT

def q_forward_label(spark, sf_dir):
    """Forward-looking LABEL construction (operators/asof.py asof_join
    direction='forward', allow_exact_matches=False, tolerance=24h,
    leakage_ok=True): for each event, whether the user's next purchase
    occurs STRICTLY after it within 24 hours, plus the exact
    time-to-purchase — the label half of training-set assembly. The
    forward direction raises LeakageError without the explicit
    leakage_ok opt-in (labels/eval only, never features); this row
    drives the gated path end to end."""
    from mpds_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
    )
    out = asof_join(
        left,
        purchases,
        on="ts",
        by="entity_id",
        direction="forward",
        tolerance=86400.0,
        allow_exact_matches=False,
        leakage_ok=True,
    )
    return out.select(
        "event_id",
        F.when(F.col("ts_r").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("label"),
        (F.col("ts_r") - F.col("ts")).alias("time_to_purchase_s"),
    )


SQL_FORWARD_LABEL = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t FROM events
), p AS (
  SELECT user_id, epoch(ts) AS t FROM events WHERE event_type = 'purchase'
)
SELECT e.event_id,
  CAST(CASE WHEN p.t - e.t <= 86400.0 THEN 1 ELSE 0 END AS BIGINT)
    AS label,
  CASE WHEN p.t - e.t <= 86400.0 THEN p.t - e.t END
    AS time_to_purchase_s
FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.t < p.t
"""

QUERIES["forward_label"] = q_forward_label
_RAW_ORACLES["forward_label"] = SQL_FORWARD_LABEL

def q_target_encode(spark, sf_dir):
    """Out-of-fold smoothed target encoding (operators/encoding.py
    target_encode_oof): encode event_type by the propensity of a
    high-value event (value > 50), folds hashed from event_id, m=10
    empirical-Bayes shrinkage toward the leave-fold-out global rate.
    The leak-free categorical encoder in its scale shape: one fact-table
    exchange for the (category, fold) sufficient statistics, windows
    only on the 25-row tiny frame, broadcast join back. Reference
    analogue: held-out scoring discipline of
    dssPerformanceEvaluation.R:49-58 (a row never sees its own label)."""
    from mpds_spark.operators.encoding import target_encode_oof

    ev = _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.when(F.col("value") > 50, F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
    )
    out = target_encode_oof(
        ev, category="event_type", target="y", key="event_id",
        n_folds=5, m=10.0,
    )
    return out.select(
        "event_id", "event_type", "fold", "y",
        F.col("te_event_type").alias("te"),
    )


SQL_TARGET_ENCODE = """
WITH e AS (
  SELECT event_id, event_type,
    CAST(CASE WHEN value > 50 THEN 1 ELSE 0 END AS BIGINT) AS y,
    CAST(CAST(('0x' || substr(md5('fold|' || CAST(event_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 5 AS INT) AS fold
  FROM events
), cf AS (
  SELECT event_type, fold,
    CAST(SUM(y) AS BIGINT) AS s, COUNT(*) AS c
  FROM e GROUP BY event_type, fold
), lo AS (
  SELECT event_type, fold,
    SUM(s) OVER (PARTITION BY event_type) - s AS loo_s,
    SUM(c) OVER (PARTITION BY event_type) - c AS loo_c,
    SUM(s) OVER () - SUM(s) OVER (PARTITION BY fold) AS g_s,
    SUM(c) OVER () - SUM(c) OVER (PARTITION BY fold) AS g_c
  FROM cf
)
SELECT e.event_id, e.event_type, e.fold, e.y,
  (CAST(loo_s AS DOUBLE) +
   10.0 * (CAST(g_s AS DOUBLE) / CAST(g_c AS DOUBLE)))
  / (CAST(loo_c AS DOUBLE) + 10.0) AS te
FROM e
JOIN lo ON e.event_type = lo.event_type AND e.fold = lo.fold
"""

QUERIES["target_encode"] = q_target_encode
_RAW_ORACLES["target_encode"] = SQL_TARGET_ENCODE


def q_json_features(spark, sf_dir):
    """Semi-structured feature extraction: parse the events.props JSON
    column JVM-side (get_json_object — no Python, no shuffle for the
    extraction itself) and aggregate the extracted integer k per user:
    count / sum / min / max / distinct-k / exact mean. The schema-on-read
    munging stage every telemetry pipeline runs before feature windows;
    at 100 TB the parse is a codegen'd map over the scan and the only
    exchange is the user-keyed aggregate."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("user_id", k.alias("k"))
        .groupBy("user_id")
        .agg(
            F.count("k").alias("k_cnt"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.countDistinct("k").alias("k_distinct"),
            (F.sum("k").cast("double") / F.count("k")).alias("k_mean"),
        )
    )


SQL_JSON_FEATURES = """
WITH e AS (
  SELECT user_id,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT user_id,
  count(k) AS k_cnt,
  CAST(sum(k) AS BIGINT) AS k_sum,
  min(k) AS k_min,
  max(k) AS k_max,
  count(DISTINCT k) AS k_distinct,
  CAST(sum(k) AS DOUBLE) / count(k) AS k_mean
FROM e GROUP BY user_id
"""

QUERIES["json_features"] = q_json_features
_RAW_ORACLES["json_features"] = SQL_JSON_FEATURES


def q_scd2_join(spark, sf_dir):
    """SCD Type-2 point-in-time dimension join — the feature-store
    staple: build a versioned (valid_from, valid_to) dimension from a
    change log, then enrich facts with the version valid AT each fact's
    timestamp. The customer-tier dimension is derived from orders (each
    order opens a new tier version; same-day restatements collapse to
    the highest orderkey, classic last-write-wins), versions are closed
    by lead(valid_from) and numbered, and events are joined point-in-
    time. Implementation is the as-of join (one fact exchange, no
    interval blow-up): because versions are contiguous, the latest
    version with valid_from <= t IS the interval match — and the DuckDB
    oracle verifies exactly that equivalence with an explicit
    valid_from <= t < valid_to interval-predicate join. At 100 TB the
    dimension windows touch only the (small) change log and the fact
    table pays one entity-keyed exchange, never a range join.
    Reference analogue: per-patient medication-state epochs gating
    before/after comparisons (dssFunctionLibrary.R:119-171 interleave
    epochs; dssPerformanceEvaluation.R:49-58 held-out discipline)."""
    dim0 = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderdate").cast("timestamp").cast("double").alias("ts"),
        "o_totalprice",
        "o_orderkey",
    )
    # same-(entity, day) restatements: last write (max orderkey) wins
    w_dup = Window.partitionBy("entity_id", "ts").orderBy(
        F.desc("o_orderkey")
    )
    dim1 = (
        dim0.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .select(
            "entity_id",
            "ts",
            F.when(F.col("o_totalprice") >= 300000, F.lit("gold"))
            .when(F.col("o_totalprice") >= 150000, F.lit("silver"))
            .otherwise(F.lit("bronze"))
            .alias("tier"),
        )
    )
    w_v = Window.partitionBy("entity_id").orderBy("ts")
    dim = dim1.select(
        "entity_id",
        "ts",
        "tier",
        F.row_number().over(w_v).cast("long").alias("tier_version"),
        F.lead("ts").over(w_v).alias("__vt"),
    )
    fact = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
    )
    out = asof_join(fact, dim, on="ts", by="entity_id")
    matched = F.col("ts_r").isNotNull()
    return out.select(
        "event_id",
        "tier",
        "tier_version",
        _r6("ts_r").alias("tier_since"),
        F.when(matched, F.col("__vt").isNull().cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("is_current"),
    )


SQL_SCD2_JOIN = """
WITH d0 AS (
  SELECT o_custkey AS user_id, epoch(o_orderdate) AS vf, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey, o_orderdate
                       ORDER BY o_orderkey DESC) AS rn
  FROM orders
), d1 AS (
  SELECT user_id, vf,
    CASE WHEN o_totalprice >= 300000 THEN 'gold'
         WHEN o_totalprice >= 150000 THEN 'silver'
         ELSE 'bronze' END AS tier
  FROM d0 WHERE rn = 1
), d AS (
  SELECT user_id, vf, tier,
    lead(vf) OVER (PARTITION BY user_id ORDER BY vf) AS vt,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY vf) AS BIGINT)
      AS tier_version
  FROM d1
), e AS (
  SELECT event_id, user_id, epoch(ts) AS t FROM events
)
SELECT e.event_id, d.tier, d.tier_version,
  round(d.vf, 6) AS tier_since,
  CAST(CASE WHEN d.user_id IS NULL THEN NULL
            WHEN d.vt IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM e
LEFT JOIN d ON e.user_id = d.user_id
           AND e.t >= d.vf AND (d.vt IS NULL OR e.t < d.vt)
"""

QUERIES["scd2_join"] = q_scd2_join
_RAW_ORACLES["scd2_join"] = SQL_SCD2_JOIN


def q_rolling_median(spark, sf_dir):
    """Per-entity rolling median (and min/max) of `value` over the
    trailing 5 events — the robust-smoothing twin of the expanding
    means in derived_features: a median filter is the standard outlier-
    immune denoise before rolling features (reference analogue: the
    window median in the accel stat battery, extractAccelTestV2.m:80,
    re-expressed on the point-in-time trailing frame). Exact semantics:
    the frame is ROWS 4 PRECEDING..CURRENT ordered by (ts, event_id);
    median = (arr[(n+1) div 2] + arr[n div 2 + 1]) / 2 over the sorted
    frame — the two indices coincide for odd n, so one expression covers
    both parities and matches the interpolating median exactly. Scale
    shape: bounded O(k) frame state, one entity-keyed exchange shared by
    all three windows, everything JVM-side (collect_list + array_sort
    on a 5-element array — no Python)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "value",
    )
    w = (
        Window.partitionBy("entity_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + F.lit(1)) / F.lit(2)).cast("int"))
    hi = F.element_at(arr, (n / F.lit(2)).cast("int") + F.lit(1))
    return ev.select(
        "event_id",
        n.cast("long").alias("win_n"),
        _r6((lo + hi) / F.lit(2.0)).alias("roll_med"),
        F.min("value").over(w).alias("roll_min"),
        F.max("value").over(w).alias("roll_max"),
    )


SQL_ROLLING_MEDIAN = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t, value FROM events
), w AS (
  SELECT event_id,
    list_sort(list(value) OVER frame) AS arr,
    min(value) OVER frame AS roll_min,
    max(value) OVER frame AS roll_max
  FROM e
  WINDOW frame AS (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT event_id,
  CAST(len(arr) AS BIGINT) AS win_n,
  round((arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1]) / 2.0, 6)
    AS roll_med,
  roll_min, roll_max
FROM w
"""

QUERIES["rolling_median"] = q_rolling_median
_RAW_ORACLES["rolling_median"] = SQL_ROLLING_MEDIAN


def q_feature_matrix(spark, sf_dir):
    """Point-in-time training-matrix assembly — the feature-store
    flagship shape: for every purchase event (the label row: was it a
    high-value purchase?) assemble strictly-backward-looking features
    from the full event stream (trailing-7-day count/value-sum/click
    count, lifetime event count, seconds since the previous event) plus
    a broadcast customer dimension. Implementation is the union-timeline
    cumulative-difference pattern — NOT a per-label range join: label
    markers and 7-day boundary markers are unioned into the event
    stream, ONE entity-keyed window computes running aggregates over
    (ts, kind) — markers sort before same-instant events, so every
    feature is strict-past (zero leakage, exactly `e.ts < label.ts`) —
    and each label's trailing window is the difference of its two
    markers' running values. Cost at 10^12 rows: one entity exchange +
    one label-keyed agg + a broadcast hash join; a naive interval join
    would pay |labels|x|window| and a range-join blow-up. The DuckDB
    oracle IS that naive interval join, proving the equivalence.
    Reference analogue: per-patient clinical comparisons assembled from
    sensor-feature history relative to visit timestamps
    (dssFunctionLibrary.R:119-171) with the held-out per-user scoring
    discipline of dssPerformanceEvaluation.R:49-58."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "event_type",
        "value",
    )
    events = ev.select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("label_id"),
        F.lit(None).cast("string").alias("marker"),
        F.lit(1).alias("is_ev"),
        "value",
        (F.col("event_type") == "click").cast("int").alias("is_click"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase")

    def marker(ts_col, name):
        return purchases.select(
            "user_id",
            ts_col.alias("ts"),
            F.lit(0).alias("kind"),
            F.col("event_id").alias("label_id"),
            F.lit(name).alias("marker"),
            F.lit(0).alias("is_ev"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("int").alias("is_click"),
        )

    frame = events.unionAll(marker(F.col("ts") - 604800.0, "lo")).unionAll(
        marker(F.col("ts"), "hi")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = frame.select(
        "label_id",
        "marker",
        "user_id",
        "ts",
        F.sum("is_ev").over(w).alias("c_cnt"),
        F.sum(F.when(F.col("is_ev") == 1, F.col("value"))).over(w).alias("c_val"),
        F.sum("is_click").over(w).alias("c_clk"),
        F.max(F.when(F.col("is_ev") == 1, F.col("ts"))).over(w).alias("c_last"),
    ).filter(F.col("label_id").isNotNull())
    hi = F.when(F.col("marker") == "hi", F.col("c_cnt"))
    lo = F.when(F.col("marker") == "lo", F.col("c_cnt"))
    feats = run.groupBy("label_id").agg(
        F.first("user_id").alias("user_id"),
        F.max(F.when(F.col("marker") == "hi", F.col("ts"))).alias("__t"),
        (F.coalesce(F.max(hi), F.lit(0)) - F.coalesce(F.max(lo), F.lit(0)))
        .cast("long")
        .alias("t7_cnt"),
        (
            F.coalesce(F.max(F.when(F.col("marker") == "hi", F.col("c_val"))), F.lit(0.0))
            - F.coalesce(F.max(F.when(F.col("marker") == "lo", F.col("c_val"))), F.lit(0.0))
        ).alias("__t7_sum"),
        (
            F.coalesce(F.max(F.when(F.col("marker") == "hi", F.col("c_clk"))), F.lit(0))
            - F.coalesce(F.max(F.when(F.col("marker") == "lo", F.col("c_clk"))), F.lit(0))
        )
        .cast("long")
        .alias("t7_clicks"),
        F.coalesce(F.max(hi), F.lit(0)).cast("long").alias("life_cnt"),
        F.max(F.when(F.col("marker") == "hi", F.col("c_last"))).alias("__prev"),
    )
    lab = purchases.select(
        F.col("event_id").alias("label_id"),
        (F.col("value") >= 100.0).cast("int").alias("label_high_value"),
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    return (
        feats.join(F.broadcast(lab), "label_id")
        .join(F.broadcast(cust), "user_id", "left")
        .select(
            "label_id",
            "label_high_value",
            "t7_cnt",
            _r6(F.col("__t7_sum")).alias("t7_sum"),
            "t7_clicks",
            "life_cnt",
            _r6(F.col("__t") - F.col("__prev")).alias("secs_since_prev"),
            "acctbal",
            "mktsegment",
        )
    )


SQL_FEATURE_MATRIX = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t, event_type, value FROM events
), l AS (
  SELECT event_id AS label_id, user_id, t,
    CAST(value >= 100.0 AS INT) AS label_high_value
  FROM e WHERE event_type = 'purchase'
), f AS (
  SELECT l.label_id,
    CAST(count(e.t) FILTER (WHERE e.t >= l.t - 604800.0) AS BIGINT)
      AS t7_cnt,
    round(coalesce(sum(e.value) FILTER (WHERE e.t >= l.t - 604800.0), 0),
          6) AS t7_sum,
    CAST(coalesce(count(e.t) FILTER (
        WHERE e.t >= l.t - 604800.0 AND e.event_type = 'click'), 0)
      AS BIGINT) AS t7_clicks,
    CAST(count(e.t) AS BIGINT) AS life_cnt,
    round(l.t - max(e.t), 6) AS secs_since_prev
  FROM l LEFT JOIN e ON e.user_id = l.user_id AND e.t < l.t
  GROUP BY l.label_id, l.t
)
SELECT l.label_id, l.label_high_value, f.t7_cnt, f.t7_sum, f.t7_clicks,
  f.life_cnt, f.secs_since_prev,
  c.c_acctbal AS acctbal, c.c_mktsegment AS mktsegment
FROM l JOIN f USING (label_id)
LEFT JOIN customer c ON c.c_custkey = l.user_id
"""

QUERIES["feature_matrix"] = q_feature_matrix
_RAW_ORACLES["feature_matrix"] = SQL_FEATURE_MATRIX


def q_psi_drift(spark, sf_dir):
    """Population Stability Index — the standard MLOps feature-drift
    monitor: split the event stream at its temporal midpoint, learn
    decile bin edges on the REFERENCE half (exact interpolating
    percentiles), bin both halves, and report per-bin counts +
    Laplace-smoothed PSI terms (p-q)*ln(p/q) plus the total. Every
    scalar (midpoint, bin edges, totals) stays lazy/distributed via
    1-row broadcast cross joins — no driver collect; the per-value work
    is one binning map over a broadcast 9-edge array; the only real
    exchange is the bin aggregation. The single-partition window at the
    end runs over exactly 10 bin rows. Drift gates are how a production
    feature store decides to retrain/alert (reference analogue: the
    train-vs-holdout score-distribution comparison in
    dssPerformanceEvaluation.R:49-58)."""
    ev = _events(spark, sf_dir).select(
        F.col("ts").cast("timestamp").cast("double").alias("t"), "value"
    )
    mid = ev.agg(
        ((F.min("t") + F.max("t")) / F.lit(2.0)).alias("__mid")
    )
    tagged = ev.crossJoin(F.broadcast(mid)).select(
        "value", (F.col("t") < F.col("__mid")).cast("int").alias("is_ref")
    )
    edges = (
        tagged.filter(F.col("is_ref") == 1)
        .agg(
            F.expr(
                "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
            ).alias("__bp")
        )
    )
    binned = tagged.crossJoin(F.broadcast(edges)).select(
        "is_ref",
        (
            F.size(F.expr("filter(__bp, b -> value > b)")) + F.lit(1)
        ).cast("long").alias("bin"),
    )
    cnt = binned.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("ref_cnt"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("long").alias("cur_cnt"),
    )
    w_all = Window.partitionBy()
    n_ref = F.sum("ref_cnt").over(w_all)
    n_cur = F.sum("cur_cnt").over(w_all)
    p = (F.col("ref_cnt") + F.lit(0.5)) / (n_ref + F.lit(5.0))
    q = (F.col("cur_cnt") + F.lit(0.5)) / (n_cur + F.lit(5.0))
    term = (p - q) * F.log(
        ((F.col("ref_cnt") + F.lit(0.5)) * (n_cur + F.lit(5.0)))
        / ((F.col("cur_cnt") + F.lit(0.5)) * (n_ref + F.lit(5.0)))
    )
    out = cnt.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        term.alias("__term"),
    )
    return out.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        _r6(F.col("__term")).alias("psi_term"),
        _r6(F.sum("__term").over(w_all)).alias("psi_total"),
    )


SQL_PSI_DRIFT = """
WITH e AS (
  SELECT epoch(ts) AS t, value FROM events
), m AS (
  SELECT (min(t) + max(t)) / 2.0 AS mid FROM e
), tagged AS (
  SELECT value, CAST(t < m.mid AS INT) AS is_ref FROM e CROSS JOIN m
), edges AS (
  SELECT quantile_cont(value,
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bp
  FROM tagged WHERE is_ref = 1
), binned AS (
  SELECT is_ref,
    CAST(len(list_filter(e.bp, b -> value > b)) + 1 AS BIGINT) AS bin
  FROM tagged CROSS JOIN edges e
), cnt AS (
  SELECT bin,
    CAST(sum(is_ref) AS BIGINT) AS ref_cnt,
    CAST(sum(1 - is_ref) AS BIGINT) AS cur_cnt
  FROM binned GROUP BY bin
), terms AS (
  SELECT bin, ref_cnt, cur_cnt,
    ((ref_cnt + 0.5) / (sum(ref_cnt) OVER () + 5.0)
     - (cur_cnt + 0.5) / (sum(cur_cnt) OVER () + 5.0))
    * ln(((ref_cnt + 0.5) * (sum(cur_cnt) OVER () + 5.0))
         / ((cur_cnt + 0.5) * (sum(ref_cnt) OVER () + 5.0))) AS term
  FROM cnt
)
SELECT bin, ref_cnt, cur_cnt, round(term, 6) AS psi_term,
  round(sum(term) OVER (), 6) AS psi_total
FROM terms
"""

QUERIES["psi_drift"] = q_psi_drift
_RAW_ORACLES["psi_drift"] = SQL_PSI_DRIFT


def q_anomaly_mad(spark, sf_dir):
    """Robust per-entity anomaly scores via Median Absolute Deviation —
    the outlier-immune twin of zscore_outliers (a handful of spikes
    inflate a stddev but barely move the MAD): modified z-score
    0.6745*(x-med)/MAD with the standard |z|>3.5 flag (Iglewicz &
    Hoaglin 1993). Both exact medians (value, then absolute deviation)
    run as WINDOW aggregates over the same entity partitioning — the
    chained windows satisfy the subset rule, so the whole query costs
    ONE entity-keyed exchange, never a median-agg + join-back round
    trip. Reference analogue: the robust location/scale idiom of the
    accel battery's median/prctile stack (extractAccelTestV2.m:80-90,
    dssFunctionLibrary.R robust rescale)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        "value",
    )
    w = Window.partitionBy("entity_id")
    med = F.expr("percentile(value, 0.5)").over(w)
    step = ev.withColumn("med", med).withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = F.expr("percentile(absdev, 0.5)").over(w)
    out = step.withColumn("mad", mad)
    rz = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"),
    )
    return out.select(
        "event_id",
        _r6(F.col("med")).alias("med"),
        _r6(F.col("mad")).alias("mad"),
        _r6(rz).alias("robust_z"),
        F.when(rz.isNotNull(), (F.abs(rz) > 3.5).cast("int")).alias(
            "is_outlier"
        ),
    )


SQL_ANOMALY_MAD = """
WITH e AS (
  SELECT event_id, user_id, value FROM events
), m AS (
  SELECT event_id, user_id, value,
    quantile_cont(value, 0.5) OVER (PARTITION BY user_id) AS med
  FROM e
), d AS (
  SELECT event_id, value, med,
    quantile_cont(abs(value - med), 0.5) OVER (PARTITION BY user_id)
      AS mad
  FROM m
)
SELECT event_id, round(med, 6) AS med, round(mad, 6) AS mad,
  round(CASE WHEN mad > 0
             THEN 0.6745 * (value - med) / mad END, 6) AS robust_z,
  CASE WHEN mad > 0
       THEN CAST(abs(0.6745 * (value - med) / mad) > 3.5 AS INT)
       END AS is_outlier
FROM d
"""

QUERIES["anomaly_mad"] = q_anomaly_mad
_RAW_ORACLES["anomaly_mad"] = SQL_ANOMALY_MAD


def q_rolling_distinct(spark, sf_dir):
    """Trailing-24h DISTINCT event-type count + row count per event —
    the cardinality-flavored trailing feature (how *varied* was this
    entity's recent behavior, not just how much): a time-RANGE frame
    [t-86400, t] on one entity-keyed exchange, distinct via
    array_distinct over the frame's collected types (bounded: |types|
    <= 5 here; at an unbounded type domain the HLL-sketch variant in
    hot_key_audit's family takes over). RANGE (not ROWS) so exact-tie
    timestamps agree deterministically with the oracle's interval
    self-join regardless of tie order. The float-seconds frame goes
    through SQL RANGE BETWEEN (the py4j rangeBetween binding is
    long-only)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "event_type",
    )
    ev = ev.withColumn(
        "types",
        F.expr(
            "collect_list(event_type) OVER ("
            "PARTITION BY entity_id ORDER BY ts "
            "RANGE BETWEEN 86400.0 PRECEDING AND CURRENT ROW)"
        ),
    )
    return ev.select(
        "event_id",
        F.size(F.array_distinct("types")).cast("long").alias("d1_types"),
        F.size("types").cast("long").alias("d1_cnt"),
    )


SQL_ROLLING_DISTINCT = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts) AS t, event_type FROM events
)
SELECT a.event_id,
  CAST(count(DISTINCT b.event_type) AS BIGINT) AS d1_types,
  CAST(count(*) AS BIGINT) AS d1_cnt
FROM e a JOIN e b
  ON b.user_id = a.user_id AND b.t >= a.t - 86400.0 AND b.t <= a.t
GROUP BY a.event_id
"""

QUERIES["rolling_distinct"] = q_rolling_distinct
_RAW_ORACLES["rolling_distinct"] = SQL_ROLLING_DISTINCT


def q_top_paths(spark, sf_dir):
    """Session path mining — the top-20 opening event-type sequences
    (first 3 events of each 30-min gap-rule session, joined 'a>b>c')
    with session and distinct-user counts: the classic product-analytics
    path report and the discrete cousin of conversion_funnel. The gap
    window, session-id running sum and within-session ranking all ride
    ONE entity-keyed exchange (subset rule); paths then pay one
    two-level count-distinct agg, and the top-20 is a per-partition heap
    (TakeOrderedAndProject — no global sort of the path universe, which
    at 10^12 events is |type|^3-bounded but long-tailed). Deterministic
    ties: (count DESC, path ASC) on both sides."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("entity_id").orderBy("ts", "event_id")
    brk = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.col("ts") - F.lag("ts").over(w)) > 1800.0),
        1,
    ).otherwise(0)
    sed = ev.withColumn(
        "sid",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_s = Window.partitionBy("entity_id", "sid").orderBy("ts", "event_id")
    first3 = sed.withColumn("rn", F.row_number().over(w_s)).filter(
        F.col("rn") <= 3
    )
    paths = first3.groupBy("entity_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    agg = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("entity_id").alias("n_users"),
    )
    return agg.orderBy(F.desc("n_sessions"), "path").limit(20)


SQL_TOP_PATHS = """
WITH e AS (
  SELECT user_id, epoch(ts) AS t, event_id, event_type FROM events
), m AS (
  SELECT *, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800.0
                 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), f AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY t, event_id) AS rn
  FROM s
), p AS (
  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM f WHERE rn <= 3 GROUP BY user_id, sid
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM p GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""

QUERIES["top_paths"] = q_top_paths
_RAW_ORACLES["top_paths"] = SQL_TOP_PATHS


def q_lagged_corr(spark, sf_dir):
    """Cross-series LAGGED correlation per entity: Pearson corr between
    this hour's click count and the NEXT hour's purchase count over the
    entity's dense hourly grid — the lead/lag predictive-signal screen
    (does activity anticipate conversion?). Missing hours are real
    zeros, so the grid is densified first (global hour span via a 1-row
    broadcast, per-entity sequence explode — never a driver loop); the
    correlation folds to six exact integer sums (n, Sx, Sy, Sxy, Sxx,
    Syy — counts, so decimal-exact at any scale) with one double
    division at the end. Lead + final agg share the entity-keyed
    exchange."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
        .cast("long")
        .alias("hr"),
        "event_type",
    )
    cnt = ev.groupBy("entity_id", "hr").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("c"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("p"),
    )
    span = ev.agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = (
        cnt.select("entity_id")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "entity_id", F.explode(F.sequence("h0", "h1")).alias("hr")
        )
    )
    dense = grid.join(cnt, ["entity_id", "hr"], "left").select(
        "entity_id",
        "hr",
        F.coalesce("c", F.lit(0)).alias("x"),
        F.coalesce("p", F.lit(0)).alias("y"),
    )
    w = Window.partitionBy("entity_id").orderBy("hr")
    led = dense.withColumn("y1", F.lead("y").over(w)).filter(
        F.col("y1").isNotNull()
    )
    agg = led.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("x").alias("sx"),
        F.sum("y1").alias("sy"),
        F.sum(F.col("x") * F.col("y1")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y1") * F.col("y1")).alias("syy"),
    )
    num = agg["n_hours"] * F.col("sxy") - F.col("sx") * F.col("sy")
    den2 = (agg["n_hours"] * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        agg["n_hours"] * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return agg.select(
        "entity_id",
        "n_hours",
        F.col("sx").alias("clicks_total"),
        _r6(
            F.when(den2 > 0, num / F.sqrt(den2.cast("double")))
        ).alias("corr_click_next_purchase"),
    )


SQL_LAGGED_CORR = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
    event_type
  FROM events
), cnt AS (
  SELECT user_id, hr,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS c,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS p
  FROM e GROUP BY user_id, hr
), span AS (
  SELECT min(hr) AS h0, max(hr) AS h1 FROM e
), grid AS (
  SELECT u.user_id, g.hr
  FROM (SELECT DISTINCT user_id FROM cnt) u
  CROSS JOIN (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
), dense AS (
  SELECT grid.user_id, grid.hr,
    coalesce(cnt.c, 0) AS x, coalesce(cnt.p, 0) AS y
  FROM grid LEFT JOIN cnt
    ON cnt.user_id = grid.user_id AND cnt.hr = grid.hr
), led AS (
  SELECT user_id, x,
    lead(y) OVER (PARTITION BY user_id ORDER BY hr) AS y1
  FROM dense
), agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_hours,
    sum(x) AS sx, sum(y1) AS sy, sum(x * y1) AS sxy,
    sum(x * x) AS sxx, sum(y1 * y1) AS syy
  FROM led WHERE y1 IS NOT NULL GROUP BY user_id
)
SELECT user_id AS entity_id, n_hours,
  CAST(sx AS BIGINT) AS clicks_total,
  round(CASE WHEN (n_hours * sxx - sx * sx) * (n_hours * syy - sy * sy)
                  > 0
             THEN (n_hours * sxy - sx * sy)
                  / sqrt(CAST((n_hours * sxx - sx * sx)
                              * (n_hours * syy - sy * sy) AS DOUBLE))
             END, 6) AS corr_click_next_purchase
FROM agg
"""

QUERIES["lagged_corr"] = q_lagged_corr
_RAW_ORACLES["lagged_corr"] = SQL_LAGGED_CORR


def q_centroid_similarity(spark, sf_dir):
    """Inter-cluster separation audit: pairwise cosine between every
    pair of label centroids, with cluster sizes — the companion to
    centroid_outliers (which scores members vs their OWN centroid):
    near-1 pairs flag label families SemDeDup-style pruning would
    conflate. One exploded (label,pos) mean pass over the corpus — the
    centroid frame is persisted so the stats/pairs branches never
    re-explode the source; the pairwise join then runs on the
    |labels| x dim centroid frame only (corpus never self-joined), so
    at 10^12 vectors the cost stays the single explode+agg scan."""
    from mpds_spark.operators.util import scratch_persist

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", "label", "pos", F.col("x").cast("double").alias("x"))
    c = scratch_persist(
        e.groupBy("label", "pos").agg(
            F.avg("x").alias("cx"), F.countDistinct("vec_id").alias("nv")
        )
    )
    stats = c.groupBy("label").agg(
        F.sqrt(F.sum(F.col("cx") * F.col("cx"))).alias("norm"),
        F.max("nv").alias("n_vecs"),
    )
    a = c.select(
        F.col("label").alias("label_a"), "pos", F.col("cx").alias("ax")
    )
    b = c.select(
        F.col("label").alias("label_b"), "pos", F.col("cx").alias("bx")
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ax") * F.col("bx")).alias("dot"))
    )
    sa = stats.select(
        F.col("label").alias("label_a"),
        F.col("norm").alias("na"),
        F.col("n_vecs").alias("n_a"),
    )
    sb = stats.select(
        F.col("label").alias("label_b"),
        F.col("norm").alias("nb"),
        F.col("n_vecs").alias("n_b"),
    )
    return (
        dots.join(F.broadcast(sa), "label_a")
        .join(F.broadcast(sb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            _r6(F.col("dot") / (F.col("na") * F.col("nb"))).alias(
                "centroid_cos"
            ),
        )
    )


SQL_CENTROID_SIMILARITY = """
WITH e AS (
  SELECT vec_id, label,
    generate_subscripts(embedding, 1) AS pos,
    CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), c AS (
  SELECT label, pos, avg(x) AS cx,
    CAST(count(DISTINCT vec_id) AS BIGINT) AS nv
  FROM e GROUP BY label, pos
), s AS (
  SELECT label, sqrt(sum(cx * cx)) AS norm, max(nv) AS n_vecs
  FROM c GROUP BY label
), d AS (
  SELECT a.label AS label_a, b.label AS label_b,
    sum(a.cx * b.cx) AS dot
  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT d.label_a, d.label_b, sa.n_vecs AS n_a, sb.n_vecs AS n_b,
  round(d.dot / (sa.norm * sb.norm), 6) AS centroid_cos
FROM d
JOIN s sa ON sa.label = d.label_a
JOIN s sb ON sb.label = d.label_b
"""

QUERIES["centroid_similarity"] = q_centroid_similarity
_RAW_ORACLES["centroid_similarity"] = SQL_CENTROID_SIMILARITY


def q_sliding_windows(spark, sf_dir):
    """Native event-time SLIDING windows (1-hour windows every 15 min,
    epoch-aligned): per-window event + distinct-user counts via
    F.window(slide) — Catalyst's Expand assigns each event its 4
    overlapping windows in the map stage, so the cost is one widened
    aggregation, never a per-window scan or a grid self-join. The DuckDB
    oracle derives each event's window starts s in (t-3600, t] from first
    principles with generate_series, proving the assignment arithmetic.
    Output keyed by window start (epoch seconds)."""
    ev = _events(spark, sf_dir).select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    agg = ev.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return agg.select(
        F.col("w.start").cast("double").alias("window_start"),
        "n_events",
        "n_users",
    )


SQL_SLIDING_WINDOWS = """
WITH e AS (
  SELECT user_id, epoch(ts) AS t FROM events
), assigned AS (
  SELECT user_id, 900.0 * k AS window_start
  FROM e, LATERAL unnest(generate_series(
    CAST(floor((t - 3600.0) / 900.0) AS BIGINT) + 1,
    CAST(floor(t / 900.0) AS BIGINT))) AS u(k)
)
SELECT window_start,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM assigned GROUP BY window_start
"""

QUERIES["sliding_windows"] = q_sliding_windows
_RAW_ORACLES["sliding_windows"] = SQL_SLIDING_WINDOWS


def q_local_peaks(spark, sf_dir):
    """Per-entity local-maximum detection — the distributed findpeaks:
    a peak is a strict neighbor-compare maximum (value > prev AND
    value > next, (ts,event_id)-ordered), rolled up to peak count, mean
    inter-peak gap and max peak height per entity. The neighbor lags,
    the inter-peak lag over the filtered peak rows, and the final
    rollup all cluster on the SAME entity key, so the whole query is
    one exchange (subset rule). Reference analogue: the alternation /
    peak segmentation in the tap battery (extractTapTestV2.m tap
    alternation; kernels.py:222 transcription oracle) re-expressed as a
    set-based window op."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "event_id",
        "value",
    )
    w = Window.partitionBy("entity_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "entity_id",
        "ts",
        "value",
        (
            (F.col("value") > F.lag("value").over(w))
            & (F.col("value") > F.lead("value").over(w))
        ).alias("is_peak"),
    ).filter(F.col("is_peak"))
    w_p = Window.partitionBy("entity_id").orderBy("ts")
    gapped = flagged.select(
        "entity_id",
        "value",
        (F.col("ts") - F.lag("ts").over(w_p)).alias("gap"),
    )
    return gapped.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_peaks"),
        _r6(F.avg("gap")).alias("mean_peak_gap_s"),
        _r6(F.max("value")).alias("max_peak_value"),
    )


SQL_LOCAL_PEAKS = """
WITH e AS (
  SELECT user_id, epoch(ts) AS t, event_id, value FROM events
), n AS (
  SELECT user_id, t, value,
    lag(value) OVER w AS pv, lead(value) OVER w AS nv
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), p AS (
  SELECT user_id, t, value,
    t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS gap
  FROM n WHERE value > pv AND value > nv
)
SELECT user_id AS entity_id,
  CAST(count(*) AS BIGINT) AS n_peaks,
  round(avg(gap), 6) AS mean_peak_gap_s,
  round(max(value), 6) AS max_peak_value
FROM p GROUP BY user_id
"""

QUERIES["local_peaks"] = q_local_peaks
_RAW_ORACLES["local_peaks"] = SQL_LOCAL_PEAKS


def q_profile_events(spark, sf_dir):
    """One-pass column profile of the events table (the Deequ-style
    profiling companion to validate_docs' rule suite): per column —
    null count, exact distinct count, numeric min/max (epoch seconds
    for ts), lexicographic min/max for strings. ALL columns' statistics
    come out of a single wide aggregation (Catalyst plans the six exact
    count-distincts through one Expand), then one explode pivots the
    1-row result to long format — the profile never rescans the table
    per column, which is the difference between 6x and 1x the 100-TB
    scan bill."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    total = F.count(F.lit(1))
    agg = ev.agg(
        total.alias("n_rows"),
        *[
            a
            for c in ("event_id", "ts", "user_id", "value")
            for a in (
                (total - F.count(c)).alias(f"{c}__nulls"),
                F.countDistinct(c).alias(f"{c}__ndv"),
                F.min(c).cast("double").alias(f"{c}__min"),
                F.max(c).cast("double").alias(f"{c}__max"),
            )
        ],
        *[
            a
            for c in ("event_type", "props")
            for a in (
                (total - F.count(c)).alias(f"{c}__nulls"),
                F.countDistinct(c).alias(f"{c}__ndv"),
                F.min(c).alias(f"{c}__smin"),
                F.max(c).alias(f"{c}__smax"),
            )
        ],
    )
    rows = []
    for c in ("event_id", "ts", "user_id", "value"):
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__ndv").alias("n_distinct"),
                _r6(F.col(f"{c}__min")).alias("min_d"),
                _r6(F.col(f"{c}__max")).alias("max_d"),
                F.lit(None).cast("string").alias("min_s"),
                F.lit(None).cast("string").alias("max_s"),
            )
        )
    for c in ("event_type", "props"):
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__ndv").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_d"),
                F.lit(None).cast("double").alias("max_d"),
                F.col(f"{c}__smin").alias("min_s"),
                F.col(f"{c}__smax").alias("max_s"),
            )
        )
    return agg.select(
        "n_rows", F.explode(F.array(*rows)).alias("p")
    ).select("p.column", "n_rows", "p.n_nulls", "p.n_distinct",
             "p.min_d", "p.max_d", "p.min_s", "p.max_s")


SQL_PROFILE_EVENTS = """
WITH e AS (
  SELECT event_id, epoch(ts) AS ts, user_id, event_type, value, props
  FROM events
), t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM e)
SELECT 'event_id' AS "column", t.n_rows,
  (SELECT CAST(t.n_rows - count(event_id) AS BIGINT) FROM e) AS n_nulls,
  (SELECT CAST(count(DISTINCT event_id) AS BIGINT) FROM e) AS n_distinct,
  (SELECT round(CAST(min(event_id) AS DOUBLE), 6) FROM e) AS min_d,
  (SELECT round(CAST(max(event_id) AS DOUBLE), 6) FROM e) AS max_d,
  NULL AS min_s, NULL AS max_s
FROM t
UNION ALL
SELECT 'ts', t.n_rows,
  (SELECT CAST(t.n_rows - count(ts) AS BIGINT) FROM e),
  (SELECT CAST(count(DISTINCT ts) AS BIGINT) FROM e),
  (SELECT round(min(ts), 6) FROM e),
  (SELECT round(max(ts), 6) FROM e), NULL, NULL
FROM t
UNION ALL
SELECT 'user_id', t.n_rows,
  (SELECT CAST(t.n_rows - count(user_id) AS BIGINT) FROM e),
  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e),
  (SELECT round(CAST(min(user_id) AS DOUBLE), 6) FROM e),
  (SELECT round(CAST(max(user_id) AS DOUBLE), 6) FROM e), NULL, NULL
FROM t
UNION ALL
SELECT 'value', t.n_rows,
  (SELECT CAST(t.n_rows - count(value) AS BIGINT) FROM e),
  (SELECT CAST(count(DISTINCT value) AS BIGINT) FROM e),
  (SELECT round(min(value), 6) FROM e),
  (SELECT round(max(value), 6) FROM e), NULL, NULL
FROM t
UNION ALL
SELECT 'event_type', t.n_rows,
  (SELECT CAST(t.n_rows - count(event_type) AS BIGINT) FROM e),
  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM e),
  NULL, NULL,
  (SELECT min(event_type) FROM e), (SELECT max(event_type) FROM e)
FROM t
UNION ALL
SELECT 'props', t.n_rows,
  (SELECT CAST(t.n_rows - count(props) AS BIGINT) FROM e),
  (SELECT CAST(count(DISTINCT props) AS BIGINT) FROM e),
  NULL, NULL,
  (SELECT min(props) FROM e), (SELECT max(props) FROM e)
FROM t
"""

QUERIES["profile_events"] = q_profile_events
_RAW_ORACLES["profile_events"] = SQL_PROFILE_EVENTS


def q_token_entropy(spark, sf_dir):
    """Per-doc Shannon entropy of the token distribution + type count,
    normalized entropy and type-token ratio (operators/text.py
    token_entropy): the lexical-diversity signal, computed with ZERO
    shuffles — a per-row sorted-array run-length fold (the sort fixes
    the float summation order so the DuckDB twin folds identically)."""
    from mpds_spark.operators.text import token_entropy

    docs = load(spark, sf_dir, "documents")
    out = token_entropy(docs, text="text", key="doc_id")
    return out.select(
        "doc_id",
        "n_tok",
        "n_types",
        _r6("entropy").alias("entropy"),
        _r6("norm_entropy").alias("norm_entropy"),
        _r6("ttr").alias("ttr"),
    )


SQL_TOKEN_ENTROPY = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), c AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY doc_id, w
), a AS (
  SELECT doc_id,
    CAST(sum(c) AS BIGINT) AS n,
    CAST(count(*) AS BIGINT) AS nt,
    coalesce(list_sum(list(
      CASE WHEN c > 1 THEN c * ln(CAST(c AS DOUBLE)) ELSE 0.0 END
      ORDER BY w)), 0.0) AS acc
  FROM c GROUP BY doc_id
)
SELECT doc_id,
  CAST(n AS INT) AS n_tok,
  CAST(nt AS INT) AS n_types,
  round(ln(CAST(n AS DOUBLE)) - acc / n, 6) AS entropy,
  round(CASE WHEN nt > 1
        THEN (ln(CAST(n AS DOUBLE)) - acc / n) / ln(CAST(nt AS DOUBLE))
        ELSE 0.0 END, 6) AS norm_entropy,
  round(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ttr
FROM a
"""

QUERIES["token_entropy"] = q_token_entropy
_RAW_ORACLES["token_entropy"] = SQL_TOKEN_ENTROPY


def q_bm25_scores(spark, sf_dir):
    """Okapi BM25 relevance against the corpus-derived query-term set —
    terms ranked 11..18 by document frequency (operators/text.py
    bm25_scores; Robertson & Zaragoza 2009; the synthetic corpus
    vocabulary is ~31 words, so the skip clears the stopword head while
    leaving a non-empty query set). Scoring pass is one
    shuffle-free map stage: per-term tf is size(filter(ws, x = t))
    unrolled over the 8 literal terms; only the df/term-selection aggs
    shuffle. Contributions summed in ascending-term order on both
    engines."""
    from mpds_spark.operators.text import bm25_scores

    docs = load(spark, sf_dir, "documents")
    out = bm25_scores(
        docs, text="text", key="doc_id", n_terms=8, skip_top=10,
        k1=1.2, b=0.75,
    )
    return out.select(
        "doc_id",
        "n_tok",
        F.col("n_match").cast("int").alias("n_match"),
        _r6("bm25").alias("bm25"),
    )


SQL_BM25_SCORES = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(len(ws)) AS BIGINT) AS len_sum
  FROM t
), dfreq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, unnest(ws) AS w FROM t) GROUP BY w
), terms AS (
  SELECT w AS term, df FROM dfreq
  ORDER BY df DESC, w ASC LIMIT 8 OFFSET 10
), scored AS (
  SELECT t.doc_id, len(t.ws) AS dl, terms.term,
    len(list_filter(t.ws, x -> x = terms.term)) AS tf,
    ln(1.0 + (stats.n - terms.df + 0.5) / (terms.df + 0.5)) AS idf,
    CAST(stats.len_sum AS DOUBLE) / CAST(stats.n AS DOUBLE) AS avgdl
  FROM t CROSS JOIN terms CROSS JOIN stats
), per AS (
  SELECT doc_id, dl,
    idf * (tf * 2.2 / (tf + 1.2 *
      (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS contrib,
    CASE WHEN tf > 0 THEN 1 ELSE 0 END AS hit,
    term
  FROM scored
)
SELECT doc_id,
  CAST(any_value(dl) AS INT) AS n_tok,
  CAST(sum(hit) AS INT) AS n_match,
  round(list_sum(list(contrib ORDER BY term)), 6) AS bm25
FROM per GROUP BY doc_id HAVING sum(hit) > 0
"""

QUERIES["bm25_scores"] = q_bm25_scores
_RAW_ORACLES["bm25_scores"] = SQL_BM25_SCORES


def q_allen_sessions(spark, sf_dir):
    """Two-granularity nested sessionization with Allen interval-relation
    classification (operators/sessionize.py nested_sessions; Allen 1983):
    every 5-minute burst positioned (equals / starts / finishes / during)
    inside its enclosing 30-minute session — the multi-scale engagement
    hierarchy, on ONE entity-keyed exchange (both cumulative boundary
    sums, the (entity,coarse,fine) rollup and the coarse-bounds window
    all reuse the entity hash partitioning via the subset rule)."""
    from mpds_spark.operators.sessionize import nested_sessions

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts"
    )
    out = nested_sessions(
        ev, entity="entity_id", ts="ts", fine_gap=300.0, coarse_gap=1800.0
    )
    return out.select(
        "entity_id",
        "coarse_id",
        "fine_id",
        "n_events",
        "fine_start",
        "fine_end",
        "coarse_start",
        "coarse_end",
        "relation",
    )


SQL_ALLEN_SESSIONS = """
WITH e AS (
  SELECT user_id, epoch(ts) AS t FROM events
), g AS (
  SELECT user_id, t,
    CASE WHEN t - lag(t) OVER w > 300.0 THEN 1 ELSE 0 END AS fn,
    CASE WHEN t - lag(t) OVER w > 1800.0 THEN 1 ELSE 0 END AS cn
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
), ids AS (
  SELECT user_id, t,
    CAST(sum(fn) OVER we AS BIGINT) AS fine_id,
    CAST(sum(cn) OVER we AS BIGINT) AS coarse_id
  FROM g WINDOW we AS (PARTITION BY user_id ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), f AS (
  SELECT user_id, coarse_id, fine_id,
    CAST(count(*) AS BIGINT) AS n_events,
    min(t) AS fine_start, max(t) AS fine_end
  FROM ids GROUP BY user_id, coarse_id, fine_id
), c AS (
  SELECT *,
    min(fine_start) OVER wc AS coarse_start,
    max(fine_end) OVER wc AS coarse_end
  FROM f WINDOW wc AS (PARTITION BY user_id, coarse_id)
)
SELECT user_id AS entity_id, coarse_id, fine_id, n_events,
  fine_start, fine_end, coarse_start, coarse_end,
  CASE WHEN fine_start = coarse_start AND fine_end = coarse_end
         THEN 'equals'
       WHEN fine_start = coarse_start THEN 'starts'
       WHEN fine_end = coarse_end THEN 'finishes'
       ELSE 'during' END AS relation
FROM c
"""

QUERIES["allen_sessions"] = q_allen_sessions
_RAW_ORACLES["allen_sessions"] = SQL_ALLEN_SESSIONS


def q_basket_lift(spark, sf_dir):
    """Top-20 part pairs by market-basket lift over lineitem orders
    (operators/pairs.py cooccurrence_lift; Agrawal et al. 1993): the
    co-occurrence/collocation feature family. Pair explosion is a JVM
    flatten over each order's sorted distinct-part array (never a basket
    self-join); marginals broadcast; top-k via TakeOrderedAndProject on
    the ROUNDED lift with (supp desc, a, b) tie-breaks."""
    from mpds_spark.operators.pairs import cooccurrence_lift

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    out = cooccurrence_lift(
        li, basket="l_orderkey", item="l_partkey", min_support=2, k=20
    )
    return out.select(
        "a", "b", "supp", "ca", "cb", _r6("lift").alias("lift")
    )


SQL_BASKET_LIFT = """
WITH di AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM di),
m AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM di GROUP BY it),
p AS (
  SELECT x.it AS a, y.it AS b, CAST(count(*) AS BIGINT) AS supp
  FROM di x JOIN di y ON x.bk = y.bk AND x.it < y.it
  GROUP BY x.it, y.it HAVING count(*) >= 2
), s AS (
  SELECT p.a, p.b, p.supp, ma.c AS ca, mb.c AS cb,
    CAST(p.supp * nb.n AS DOUBLE) / CAST(ma.c * mb.c AS DOUBLE) AS lift
  FROM p CROSS JOIN nb
  JOIN m ma ON ma.it = p.a JOIN m mb ON mb.it = p.b
)
SELECT a, b, supp, ca, cb, round(lift, 6) AS lift
FROM s
ORDER BY round(lift, 6) DESC, supp DESC, a ASC, b ASC
LIMIT 20
"""

QUERIES["basket_lift"] = q_basket_lift
_RAW_ORACLES["basket_lift"] = SQL_BASKET_LIFT


def q_rolling_slope(spark, sf_dir):
    """Trailing-8 OLS slope of value vs time at every event, in value
    units/day (operators/windows.py rolling_slope): the local-trend
    feature. Exact DECIMAL(38,0) frame sums (x = micros since the
    entity's first event, y = cents), one double division + one exact
    literal multiply; ONE entity-keyed exchange."""
    from mpds_spark.operators.windows import rolling_slope

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        "ts",
        "value",
    )
    out = rolling_slope(
        ev, value="value", ts="ts", by="entity_id", k=8, decimals=2
    )
    return out.select(
        "event_id", "n_frame", _r6("slope_per_day").alias("slope_per_day")
    )


SQL_ROLLING_SLOPE = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS HUGEINT) AS y
  FROM events
), x AS (
  SELECT event_id, user_id, y,
    CAST(us - first_value(us) OVER (PARTITION BY user_id ORDER BY us
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS x
  FROM e
), s AS (
  SELECT event_id,
    CAST(count(*) OVER wf AS HUGEINT) AS n,
    sum(x) OVER wf AS sx, sum(y) OVER wf AS sy,
    sum(x*y) OVER wf AS sxy, sum(x*x) OVER wf AS sxx
  FROM x WINDOW wf AS (PARTITION BY user_id ORDER BY x
    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT event_id, CAST(n AS INT) AS n_frame,
  round(CASE WHEN n >= 2 AND (n*sxx - sx*sx)::DOUBLE > 0
    THEN ((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE)
         * 864000000.0
  END, 6) AS slope_per_day
FROM s
"""

QUERIES["rolling_slope"] = q_rolling_slope
_RAW_ORACLES["rolling_slope"] = SQL_ROLLING_SLOPE


def q_interval_overlap(spark, sf_dir):
    """Per-entity temporal co-activity of view-windows vs click-windows
    (operators/sessionize.py interval_overlap): merged measure of each
    1h-window set, their intersection, and the temporal Jaccard — one
    union-timeline sweep on ONE entity exchange. The oracle derives the
    same numbers the naive way (gaps-and-islands merge + interval-
    intersection join), proving the sweep's equivalence."""
    from mpds_spark.operators.sessionize import interval_overlap

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "event_type"
    )
    out = interval_overlap(
        ev, entity="entity_id", ts="ts", kind="event_type",
        a_kind="view", b_kind="click", duration=3600.0,
    )
    return out.select(
        "entity_id",
        "n_a",
        "n_b",
        _r6("a_seconds").alias("a_seconds"),
        _r6("b_seconds").alias("b_seconds"),
        _r6("overlap_seconds").alias("overlap_seconds"),
        _r6("time_jaccard").alias("time_jaccard"),
    )


SQL_INTERVAL_OVERLAP = """
WITH ev AS (
  SELECT user_id,
    CASE WHEN event_type = 'view' THEN 'a' ELSE 'b' END AS side,
    epoch_us(ts) AS s, epoch_us(ts) + 3600000000 AS e
  FROM events WHERE event_type IN ('view', 'click')
), m AS (
  SELECT user_id, side, s, e,
    CASE WHEN s >= coalesce(max(e) OVER (PARTITION BY user_id, side
      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      -1) THEN 1 ELSE 0 END AS brk
  FROM ev
), g AS (
  SELECT user_id, side, s, e,
    sum(brk) OVER (PARTITION BY user_id, side ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM m
), iv AS (
  SELECT user_id, side, grp, min(s) AS s, max(e) AS e
  FROM g GROUP BY user_id, side, grp
), ln AS (
  SELECT user_id, side, CAST(sum(e - s) AS BIGINT) AS us
  FROM iv GROUP BY user_id, side
), cnt AS (
  SELECT user_id, side, CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY user_id, side
), ov AS (
  SELECT a.user_id,
    CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS us
  FROM iv a JOIN iv b ON a.user_id = b.user_id
    AND a.side = 'a' AND b.side = 'b' AND a.s < b.e AND b.s < a.e
  GROUP BY a.user_id
), base AS (SELECT DISTINCT user_id FROM ev)
SELECT base.user_id AS entity_id,
  coalesce(ca.n, 0) AS n_a,
  coalesce(cb.n, 0) AS n_b,
  round(coalesce(la.us, 0) / 1000000.0, 6) AS a_seconds,
  round(coalesce(lb.us, 0) / 1000000.0, 6) AS b_seconds,
  round(coalesce(ov.us, 0) / 1000000.0, 6) AS overlap_seconds,
  round(CASE WHEN coalesce(la.us,0) + coalesce(lb.us,0)
                  - coalesce(ov.us,0) > 0
    THEN CAST(coalesce(ov.us,0) AS DOUBLE)
         / CAST(coalesce(la.us,0) + coalesce(lb.us,0)
                - coalesce(ov.us,0) AS DOUBLE)
    ELSE 0.0 END, 6) AS time_jaccard
FROM base
LEFT JOIN (SELECT user_id, n FROM cnt WHERE side = 'a') ca
  ON ca.user_id = base.user_id
LEFT JOIN (SELECT user_id, n FROM cnt WHERE side = 'b') cb
  ON cb.user_id = base.user_id
LEFT JOIN (SELECT user_id, us FROM ln WHERE side = 'a') la
  ON la.user_id = base.user_id
LEFT JOIN (SELECT user_id, us FROM ln WHERE side = 'b') lb
  ON lb.user_id = base.user_id
LEFT JOIN ov ON ov.user_id = base.user_id
"""

QUERIES["interval_overlap"] = q_interval_overlap
_RAW_ORACLES["interval_overlap"] = SQL_INTERVAL_OVERLAP


def q_zorder_key(spark, sf_dir):
    """Morton/Z-order interleaved layout key over (entity-bucket,
    epoch-day) for every event (sources/layout.py zorder_key; the
    Delta/Iceberg OPTIMIZE ZORDER technique, Morton 1966): the sort key
    whose ranges map to small (entity x time) boxes so parquet footer
    min/max stats prune scans on EITHER predicate. Pure exact-integer
    bit arithmetic, ZERO shuffles — the layout write's range exchange is
    exercised in the pytest."""
    from mpds_spark.sources.layout import zorder_key

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
    )
    d = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("zx"),
        (F.expr("__us div 86400000000") % 256).alias("zy"),
    )
    return d.select(
        "event_id", "zx", "zy", zorder_key("zx", "zy", bits=8).alias("zkey")
    )


_ZTERMS = " + ".join(
    f"(((zx >> {i}) & 1) << {2 * i}) + (((zy >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)
SQL_ZORDER_KEY = f"""
WITH e AS (
  SELECT event_id, user_id % 256 AS zx,
    (epoch_us(ts) // 86400000000) % 256 AS zy
  FROM events
)
SELECT event_id, CAST(zx AS BIGINT) AS zx, CAST(zy AS BIGINT) AS zy,
  CAST({_ZTERMS} AS BIGINT) AS zkey
FROM e
"""

QUERIES["zorder_key"] = q_zorder_key
_RAW_ORACLES["zorder_key"] = SQL_ZORDER_KEY


def q_survival_km(spark, sf_dir):
    """Kaplan–Meier retention curve over user event-stream lifetimes
    (operators/survival.py kaplan_meier): day-binned durations, 7-day
    right-censoring at the corpus boundary (a broadcast 1-row max fit),
    survival folded as exp(sum of integer-ratio ln terms) in ascending-
    duration order on both engines. Heavy passes are entity- and
    day-keyed; only the tiny aggregated curve crosses the global
    window."""
    from mpds_spark.operators.survival import kaplan_meier

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts"
    )
    out = kaplan_meier(
        ev, entity="entity_id", ts="ts", churn_gap_days=7.0,
        bin_seconds=3600,
    )
    return out.select(
        "duration_bin",
        "n_risk",
        "n_events",
        "n_censored",
        _r6("km_survival").alias("km_survival"),
    )


SQL_SURVIVAL_KM = """
WITH d AS (SELECT user_id AS e, epoch_us(ts) AS us FROM events),
mx AS (SELECT max(us) AS mx FROM d),
sp AS (SELECT e, min(us) AS s, max(us) AS t FROM d GROUP BY e),
sv AS (
  SELECT CAST((t - s) // 3600000000 AS BIGINT) AS day,
    CASE WHEN t <= (SELECT mx FROM mx) - 604800000000
         THEN 1 ELSE 0 END AS obs
  FROM sp
), curve AS (
  SELECT day, CAST(sum(obs) AS BIGINT) AS n_events,
    CAST(sum(1 - obs) AS BIGINT) AS n_censored
  FROM sv GROUP BY day
), risk AS (
  SELECT day, n_events, n_censored,
    CAST((SELECT sum(n_events + n_censored) FROM curve)
      - coalesce(sum(n_events + n_censored) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM curve
), km AS (
  SELECT r1.day,
    list_sum(list(CASE WHEN r2.n_events < r2.n_risk
      THEN ln((r2.n_risk - r2.n_events)::DOUBLE / r2.n_risk::DOUBLE)
      ELSE 0.0 END ORDER BY r2.day)) AS lnsum,
    max(CASE WHEN r2.n_events = r2.n_risk THEN 1 ELSE 0 END) AS zero
  FROM risk r1 JOIN risk r2 ON r2.day <= r1.day GROUP BY r1.day
)
SELECT r.day AS duration_bin, r.n_risk, r.n_events, r.n_censored,
  round(CASE WHEN k.zero = 1 THEN 0.0 ELSE exp(k.lnsum) END, 6)
    AS km_survival
FROM risk r JOIN km k ON k.day = r.day
"""

QUERIES["survival_km"] = q_survival_km
_RAW_ORACLES["survival_km"] = SQL_SURVIVAL_KM


def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit of order totals per priority class
    (operators/profiles.py benford_audit): exact digit counts off the
    integer-cents STRING (never log10), chi-square and MAD vs embedded
    Benford literals folded digit-ascending. One group-keyed agg."""
    from mpds_spark.operators.profiles import benford_audit

    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("value"),
    )
    out = benford_audit(od, group="priority", value="value", decimals=2)
    cols = ["priority", "n"] + [f"d{i}" for i in range(1, 10)]
    return out.select(
        *cols, _r6("chi2").alias("chi2"), _r6("mad").alias("mad")
    )


def _benford_sql() -> str:
    import math

    ps = {d: repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
    digit_counts = ",\n    ".join(
        f"CAST(sum(CASE WHEN dg = {d} THEN 1 ELSE 0 END) AS BIGINT) AS d{d}"
        for d in range(1, 10)
    )
    chi2 = " + ".join(
        f"(d{d}::DOUBLE - n::DOUBLE*{ps[d]})"
        f" * (d{d}::DOUBLE - n::DOUBLE*{ps[d]}) / (n::DOUBLE*{ps[d]})"
        for d in range(1, 10)
    )
    mad = " + ".join(
        f"abs(d{d}::DOUBLE / n::DOUBLE - {ps[d]})" for d in range(1, 10)
    )
    return f"""
WITH c AS (
  SELECT o_orderpriority AS priority,
    CAST(sign(o_totalprice) * floor(abs(o_totalprice)*100 + 0.5)
         AS BIGINT) AS cents
  FROM orders
), dgt AS (
  SELECT priority,
    CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS dg
  FROM c WHERE cents > 0
), agg AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n,
    {digit_counts}
  FROM dgt GROUP BY priority
)
SELECT priority, n, d1, d2, d3, d4, d5, d6, d7, d8, d9,
  round({chi2}, 6) AS chi2,
  round(({mad}) / 9.0, 6) AS mad
FROM agg
"""


SQL_BENFORD_AUDIT = _benford_sql()

QUERIES["benford_audit"] = q_benford_audit
_RAW_ORACLES["benford_audit"] = SQL_BENFORD_AUDIT


def q_graph_triangles(spark, sf_dir):
    """Per-part triangle counts + local clustering coefficient over the
    co-order part graph (operators/graph.py: JVM pair-flatten edges,
    degree-ordered-orientation triangle counting — Cohen 2009 MR
    triangle scheme). Gated on the l_partkey % 4 == 0 subgraph to bound
    the toy-scale wedge volume (the star-CC fixture lesson); the DuckDB
    oracle enumerates x<y<z triangles naively, proving the oriented
    algorithm's counts."""
    from mpds_spark.operators.graph import (
        co_occurrence_edges,
        triangle_stats,
    )

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    edges = co_occurrence_edges(
        li, basket="l_orderkey", item="l_partkey"
    )
    out = triangle_stats(edges)
    return out.select(
        F.col("node").alias("part_id"),
        "degree",
        "triangles",
        _r6("clustering").alias("clustering"),
    )


SQL_GRAPH_TRIANGLES = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem WHERE l_partkey % 4 = 0
), e AS (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY node
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), tn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node AS part_id, d.degree,
  CAST(coalesce(tn.triangles, 0) AS BIGINT) AS triangles,
  round(CASE WHEN d.degree >= 2
    THEN 2.0 * CAST(coalesce(tn.triangles, 0) AS DOUBLE)
         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
    ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN tn ON tn.node = d.node
"""

QUERIES["graph_triangles"] = q_graph_triangles
_RAW_ORACLES["graph_triangles"] = SQL_GRAPH_TRIANGLES


def q_hll_cardinality(spark, sf_dir):
    """HyperLogLog distinct-user estimate per event type, audited
    against the exact distinct count (operators/sketches.py
    hll_cardinality, Flajolet et al. 2007): md5-derived 60-bit hashes,
    p=8 registers built in ONE mergeable (group, bucket)-keyed MAX,
    2^-M terms folded bucket-ascending as exact powers of two. The
    DuckDB oracle rebuilds the identical registers, so the gate is
    EXACT even though the sketch itself is approximate."""
    from mpds_spark.operators.sketches import hll_cardinality

    ev = _events(spark, sf_dir).select("event_type", "user_id")
    out = hll_cardinality(ev, key="user_id", group="event_type", p=8)
    return out.select(
        "event_type",
        "n_exact",
        "hll_buckets_hit",
        _r6("hll_estimate").alias("hll_estimate"),
        _r6("rel_err").alias("rel_err"),
    )


def _hll_sql() -> str:
    from mpds_spark.operators.sketches import hll_alpha

    amm = repr(hll_alpha(256) * 256 * 256)
    return f"""
WITH h AS (
  SELECT event_type,
    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
         AS BIGINT) AS hv
  FROM events
), br AS (
  SELECT event_type, hv >> 52 AS bucket, hv % 4503599627370496 AS r
  FROM h
), regs AS (
  SELECT event_type, bucket,
    max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END) AS m
  FROM br GROUP BY event_type, bucket
), folded AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS hll_buckets_hit,
    list_sum(list(1.0 / CAST(1::BIGINT << m AS DOUBLE) ORDER BY bucket))
      AS z_hit
  FROM regs GROUP BY event_type
), est AS (
  SELECT event_type, hll_buckets_hit,
    CASE WHEN ({amm} / (z_hit + CAST(256 - hll_buckets_hit AS DOUBLE)))
              <= 640.0
          AND (256 - hll_buckets_hit) > 0
      THEN 256.0 * ln(256.0 / CAST(256 - hll_buckets_hit AS DOUBLE))
      ELSE {amm} / (z_hit + CAST(256 - hll_buckets_hit AS DOUBLE))
    END AS e
  FROM folded
), exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT x.event_type, x.n_exact, s.hll_buckets_hit,
  round(s.e, 6) AS hll_estimate,
  round((s.e - x.n_exact::DOUBLE) / x.n_exact::DOUBLE, 6) AS rel_err
FROM exact x JOIN est s ON s.event_type = x.event_type
"""


SQL_HLL_CARDINALITY = _hll_sql()

QUERIES["hll_cardinality"] = q_hll_cardinality
_RAW_ORACLES["hll_cardinality"] = SQL_HLL_CARDINALITY


def q_countmin_topk(spark, sf_dir):
    """Count-Min point estimates for the exact top-20 users by event
    count (operators/sketches.py countmin_estimates, Cormode &
    Muthukrishnan 2005): 4 salted md5 rows x 256 buckets of exact long
    cells in ONE exploded aggregation; estimate = min over rows
    (one-sided overcount). Top-k via TakeOrdered; the 1024-cell table
    joins broadcast."""
    from mpds_spark.operators.sketches import countmin_estimates

    ev = _events(spark, sf_dir).select("user_id")
    out = countmin_estimates(ev, key="user_id", d=4, w=256, k=20)
    return out.select("user_id", "n_exact", "cm_estimate", "overcount")


SQL_COUNTMIN_TOPK = """
WITH gen AS (SELECT unnest([0, 1, 2, 3]) AS r),
cm AS (
  SELECT g.r AS r,
    CAST(('0x' || substring(md5(CAST(g.r AS VARCHAR) || '|'
          || CAST(e.user_id AS VARCHAR)), 1, 15))::UBIGINT % 256
         AS BIGINT) AS b,
    CAST(count(*) AS BIGINT) AS c
  FROM events e CROSS JOIN gen g GROUP BY 1, 2
), top AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact FROM events
  GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT 20
), probes AS (
  SELECT t.user_id, t.n_exact, g.r AS r,
    CAST(('0x' || substring(md5(CAST(g.r AS VARCHAR) || '|'
          || CAST(t.user_id AS VARCHAR)), 1, 15))::UBIGINT % 256
         AS BIGINT) AS b
  FROM top t CROSS JOIN gen g
)
SELECT p.user_id, p.n_exact,
  CAST(min(c.c) AS BIGINT) AS cm_estimate,
  CAST(min(c.c) - p.n_exact AS BIGINT) AS overcount
FROM probes p JOIN cm c ON c.r = p.r AND c.b = p.b
GROUP BY p.user_id, p.n_exact
"""

QUERIES["countmin_topk"] = q_countmin_topk
_RAW_ORACLES["countmin_topk"] = SQL_COUNTMIN_TOPK


def q_temporal_motifs(spark, sf_dir):
    """Top-20 temporal motifs: consecutive event-type triples on one
    user within a 24-hour span (operators/funnels.py temporal_motifs,
    Paranjape et al. 2017 specialization): two lead() columns + span
    predicate on ONE entity exchange, motif rollup on the tiny
    |types|^3 key, TakeOrdered heap."""
    from mpds_spark.operators.funnels import temporal_motifs

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "event_type",
        "event_id",
    )
    return temporal_motifs(
        ev, entity="entity_id", ts="ts", kind="event_type",
        max_span=86400.0, k=20, tiebreak=("event_id",),
    )


SQL_TEMPORAL_MOTIFS = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, event_id FROM events
), l AS (
  SELECT event_type AS t1,
    lead(event_type, 1) OVER w AS t2,
    lead(event_type, 2) OVER w AS t3,
    lead(us, 2) OVER w AS us3, us
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
FROM l WHERE t3 IS NOT NULL AND us3 - us <= 86400000000
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3 LIMIT 20
"""

QUERIES["temporal_motifs"] = q_temporal_motifs
_RAW_ORACLES["temporal_motifs"] = SQL_TEMPORAL_MOTIFS


def q_woe_encoding(spark, sf_dir):
    """Weight-of-evidence + information-value terms of order priority
    vs final status (operators/encoding.py woe_encoding, Siddiqi 2006):
    exact cell counts in ONE category agg, totals from a window over
    the 5-row aggregated frame, smoothed integer-ratio-style ln."""
    from mpds_spark.operators.encoding import woe_encoding

    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    out = woe_encoding(od, category="category", label="label")
    return out.select(
        "category",
        "n_pos",
        "n_neg",
        _r6("woe").alias("woe"),
        _r6("iv_term").alias("iv_term"),
    )


SQL_WOE_ENCODING = """
WITH cells AS (
  SELECT o_orderpriority AS category,
    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_pos,
    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT)
      AS n_neg
  FROM orders GROUP BY o_orderpriority
), tot AS (
  SELECT category, n_pos, n_neg,
    CAST((SELECT sum(n_pos) FROM cells) AS BIGINT) AS pt,
    CAST((SELECT sum(n_neg) FROM cells) AS BIGINT) AS nt
  FROM cells
)
SELECT category, n_pos, n_neg,
  round(ln((n_pos::DOUBLE + 0.5) * nt::DOUBLE
           / ((n_neg::DOUBLE + 0.5) * pt::DOUBLE)), 6) AS woe,
  round((n_pos::DOUBLE / pt::DOUBLE - n_neg::DOUBLE / nt::DOUBLE)
        * ln((n_pos::DOUBLE + 0.5) * nt::DOUBLE
             / ((n_neg::DOUBLE + 0.5) * pt::DOUBLE)), 6) AS iv_term
FROM tot
"""

QUERIES["woe_encoding"] = q_woe_encoding
_RAW_ORACLES["woe_encoding"] = SQL_WOE_ENCODING


def q_haar_energy(spark, sf_dir):
    """Unnormalized Haar wavelet level energies of each user's first 8
    values (operators/windows.py haar_energy): differences/sums over
    exact cents so every energy is an exact long; ONE entity exchange
    (row_number + sorted-array fold via the subset rule)."""
    from mpds_spark.operators.windows import haar_energy

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "value", "event_id"
    )
    out = haar_energy(
        ev, value="value", ts="ts", by="entity_id", n=8, decimals=2
    )
    return out.select("entity_id", "e1", "e2", "e3", "approx_sq")


def _haar_sql() -> str:
    x = [f"x[{i}]" for i in range(9)]  # 1-based
    sq = lambda e: f"({e}) * ({e})"  # noqa: E731
    a1 = [f"({x[1]} + {x[2]})", f"({x[3]} + {x[4]})",
          f"({x[5]} + {x[6]})", f"({x[7]} + {x[8]})"]
    a2 = [f"({a1[0]} + {a1[1]})", f"({a1[2]} + {a1[3]})"]
    e1 = " + ".join(sq(f"{x[i]} - {x[i + 1]}") for i in (1, 3, 5, 7))
    e2 = " + ".join(
        [sq(f"{a1[0]} - {a1[1]}"), sq(f"{a1[2]} - {a1[3]}")]
    )
    e3 = sq(f"{a2[0]} - {a2[1]}")
    asq = sq(f"{a2[0]} + {a2[1]}")
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
    CAST(sign(value) * floor(abs(value)*100 + 0.5) AS BIGINT) AS y
  FROM events
), r AS (
  SELECT user_id, y,
    row_number() OVER (PARTITION BY user_id ORDER BY us, y) AS rn
  FROM e
), arr AS (
  SELECT user_id, list(y ORDER BY rn) AS x
  FROM r WHERE rn <= 8 GROUP BY user_id HAVING count(*) = 8
)
SELECT user_id AS entity_id,
  CAST({e1} AS BIGINT) AS e1,
  CAST({e2} AS BIGINT) AS e2,
  CAST({e3} AS BIGINT) AS e3,
  CAST({asq} AS BIGINT) AS approx_sq
FROM arr
"""


SQL_HAAR_ENERGY = _haar_sql()

QUERIES["haar_energy"] = q_haar_energy
_RAW_ORACLES["haar_energy"] = SQL_HAAR_ENERGY


def q_fuzzy_name_pairs(spark, sf_dir):
    """Blocked fuzzy-match candidates over part names (operators/
    pairs.py blocked_fuzzy_pairs, Christen 2012): Levenshtein <= 3
    within (last-token, first-char) blocks — a block-keyed equi-join,
    never an all-pairs matrix; heap top-50 by (dist, key_a, key_b)."""
    from mpds_spark.operators.pairs import blocked_fuzzy_pairs

    pt = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    return blocked_fuzzy_pairs(
        pt, key="p_partkey", name="p_name", max_dist=2, k=50,
        block_exprs=[F.element_at(F.split(F.col("p_name"), " "), -1)],
    )


SQL_FUZZY_NAME_PAIRS = """
WITH base AS (
  SELECT p_name AS n, CAST(min(p_partkey) AS BIGINT) AS k,
    CAST(count(*) AS BIGINT) AS cnt,
    string_split(p_name, ' ')[-1] AS tok
  FROM part GROUP BY p_name
)
SELECT a.k AS key_a, b.k AS key_b, a.n AS name_a, b.n AS name_b,
  CAST(levenshtein(a.n, b.n) AS INT) AS dist,
  a.cnt AS n_a, b.cnt AS n_b
FROM base a JOIN base b
  ON a.tok = b.tok AND a.k < b.k
WHERE levenshtein(a.n, b.n) <= 2
ORDER BY dist, key_a, key_b LIMIT 50
"""

QUERIES["fuzzy_name_pairs"] = q_fuzzy_name_pairs
_RAW_ORACLES["fuzzy_name_pairs"] = SQL_FUZZY_NAME_PAIRS


def q_fk_integrity(spark, sf_dir):
    """Referential-integrity audit of three star-schema relations
    (operators/validate.py referential_audit): exact orphan /
    unreferenced counts from one fact-key agg + one full-outer key join
    per relation — the trust-the-joins pass every warehouse load
    runs."""
    from mpds_spark.operators.validate import referential_audit

    ev = _events(spark, sf_dir)
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    audits = [
        referential_audit(
            ev, cust, "user_id", "c_custkey", "events->customer"
        ),
        referential_audit(
            orders, cust, "o_custkey", "c_custkey", "orders->customer"
        ),
        referential_audit(
            li, part, "l_partkey", "p_partkey", "lineitem->part"
        ),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


def _fk_block(fact_sql: str, dim_sql: str, relation: str) -> str:
    return f"""
SELECT '{relation}' AS relation,
  CAST(sum(coalesce(rows, 0)) AS BIGINT) AS n_fact_rows,
  CAST(sum(CASE WHEN rows IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_fact_keys,
  CAST(sum(CASE WHEN rows IS NOT NULL AND dk IS NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_orphan_keys,
  CAST(sum(CASE WHEN dk IS NULL THEN coalesce(rows, 0) ELSE 0 END)
    AS BIGINT) AS n_orphan_rows,
  CAST(sum(CASE WHEN dk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dim_keys,
  CAST(sum(CASE WHEN dk IS NOT NULL AND rows IS NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_unreferenced_dim
FROM (
  SELECT fk.rows, fk.k AS fkk, dk.k AS dk
  FROM ({fact_sql}) fk FULL OUTER JOIN ({dim_sql}) dk ON fk.k = dk.k
)"""


SQL_FK_INTEGRITY = " UNION ALL ".join(
    [
        _fk_block(
            "SELECT user_id AS k, count(*) AS rows FROM events GROUP BY 1",
            "SELECT DISTINCT c_custkey AS k FROM customer",
            "events->customer",
        ),
        _fk_block(
            "SELECT o_custkey AS k, count(*) AS rows FROM orders GROUP BY 1",
            "SELECT DISTINCT c_custkey AS k FROM customer",
            "orders->customer",
        ),
        _fk_block(
            "SELECT l_partkey AS k, count(*) AS rows FROM lineitem GROUP BY 1",
            "SELECT DISTINCT p_partkey AS k FROM part",
            "lineitem->part",
        ),
    ]
)

QUERIES["fk_integrity"] = q_fk_integrity
_RAW_ORACLES["fk_integrity"] = SQL_FK_INTEGRITY


def q_welch_pairs(spark, sf_dir):
    """Welch's t statistic for every event-type pair on value
    (operators/profiles.py welch_pairs, Welch 1947): exact decimal
    moments in ONE group agg; the pair expansion is a theta self-join
    of the 5-row aggregate frame only (registered BNLJ-by-design)."""
    from mpds_spark.operators.profiles import welch_pairs

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("grp"), "value"
    ).filter(F.col("value").isNotNull())
    out = welch_pairs(ev, group="grp", value="value", decimals=2)
    return out.select(
        "g1",
        "g2",
        "n1",
        "n2",
        _r6("mean_diff").alias("mean_diff"),
        _r6("t_stat").alias("t_stat"),
        _r6("dof").alias("dof"),
    )


SQL_WELCH_PAIRS = """
WITH g AS (
  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n,
    sum(CAST(sign(value)*floor(abs(value)*100 + 0.5) AS HUGEINT)) AS sx,
    sum(CAST(sign(value)*floor(abs(value)*100 + 0.5) AS HUGEINT)
        * CAST(sign(value)*floor(abs(value)*100 + 0.5) AS HUGEINT)) AS sxx
  FROM events WHERE value IS NOT NULL GROUP BY event_type
), s AS (
  SELECT grp, n,
    sx::DOUBLE / n::DOUBLE / 100.0 AS m,
    CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE)
      / CAST(n::HUGEINT * (n::HUGEINT - 1) AS DOUBLE) / 10000.0 AS v
  FROM g WHERE n >= 2
)
SELECT a.grp AS g1, b.grp AS g2, a.n AS n1, b.n AS n2,
  round(a.m - b.m, 6) AS mean_diff,
  round((a.m - b.m) / sqrt(a.v / a.n::DOUBLE + b.v / b.n::DOUBLE), 6)
    AS t_stat,
  round(((a.v / a.n::DOUBLE + b.v / b.n::DOUBLE)
         * (a.v / a.n::DOUBLE + b.v / b.n::DOUBLE))
        / ((a.v / a.n::DOUBLE) * (a.v / a.n::DOUBLE)
             / CAST(a.n - 1 AS DOUBLE)
           + (b.v / b.n::DOUBLE) * (b.v / b.n::DOUBLE)
             / CAST(b.n - 1 AS DOUBLE)), 6) AS dof
FROM s a JOIN s b ON a.grp < b.grp
"""

QUERIES["welch_pairs"] = q_welch_pairs
_RAW_ORACLES["welch_pairs"] = SQL_WELCH_PAIRS


def q_bloom_members(spark, sf_dir):
    """Bloom-filter membership audit: a 512-bit / 3-hash filter over
    purchase users probed by every user (operators/sketches.py
    bloom_membership, Bloom 1970) — the runtime-filter pre-prune shape;
    the md5-deterministic bit set lets the oracle rebuild the identical
    filter, so even the false positives gate EXACT."""
    from mpds_spark.operators.sketches import bloom_membership

    ev = _events(spark, sf_dir)
    ref = ev.filter(F.col("event_type") == "purchase").select("user_id")
    out = bloom_membership(ref, ev.select("user_id"), key="user_id",
                           m=512, k=3)
    return out.select(
        "user_id", "bloom_positive", "actual_member", "false_positive"
    )


SQL_BLOOM_MEMBERS = """
WITH ref AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
  FROM events WHERE event_type = 'purchase'
), gen AS (SELECT unnest([0, 1, 2]) AS i),
bits AS (
  SELECT DISTINCT
    ('0x' || substring(md5(CAST(g.i AS VARCHAR) || '|' || r.k), 1, 15))
      ::UBIGINT % 512 AS pos
  FROM ref r CROSS JOIN gen g
), probe AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
), pp AS (
  SELECT p.k,
    ('0x' || substring(md5(CAST(g.i AS VARCHAR) || '|' || p.k), 1, 15))
      ::UBIGINT % 512 AS pos
  FROM probe p CROSS JOIN gen g
), v AS (
  SELECT pp.k,
    sum(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) = 3 AS bloom_positive
  FROM pp LEFT JOIN bits b ON b.pos = pp.pos GROUP BY pp.k
)
SELECT v.k AS user_id, v.bloom_positive,
  r.k IS NOT NULL AS actual_member,
  v.bloom_positive AND r.k IS NULL AS false_positive
FROM v LEFT JOIN ref r ON r.k = v.k
"""

QUERIES["bloom_members"] = q_bloom_members
_RAW_ORACLES["bloom_members"] = SQL_BLOOM_MEMBERS


def q_phrase_search(spark, sf_dir):
    """Positional inverted-index phrase search for "fast table"
    (operators/text.py phrase_search): literal-term posting lists
    joined on (doc, pos+1) — only the two terms' postings shuffle,
    never the corpus; the oracle scans every document's word list
    directly, proving the index join exact."""
    from mpds_spark.operators.text import phrase_search

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(docs, w1="fast", w2="table")


SQL_PHRASE_SEARCH = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), hits AS (
  SELECT doc_id,
    list_filter(range(1, len(w)),
                i -> w[i] = 'fast' AND w[i + 1] = 'table') AS pos
  FROM ws
)
SELECT doc_id, CAST(len(pos) AS BIGINT) AS n_occurrences,
  CAST(list_min(pos) AS BIGINT) AS first_pos
FROM hits WHERE len(pos) > 0
"""

QUERIES["phrase_search"] = q_phrase_search
_RAW_ORACLES["phrase_search"] = SQL_PHRASE_SEARCH


def q_decayed_counts(spark, sf_dir):
    """Half-life-decayed event counter per user at the corpus boundary
    (operators/windows.py decayed_counts): one entity agg; terms folded
    over a (ts, event_id)-sorted array with a single embedded decay
    literal, so the float sum is order-pinned on both engines."""
    from mpds_spark.operators.windows import decayed_counts

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "event_id"
    )
    out = decayed_counts(
        ev, by="entity_id", ts="ts", half_life_days=7.0,
        tiebreak=("event_id",),
    )
    return out.select(
        "entity_id", "n_events", _r6("decayed_count").alias("decayed_count")
    )


def _decayed_sql() -> str:
    import math

    c = repr(math.log(2.0) / (7.0 * 86400e6))
    return f"""
WITH d AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
), mx AS (SELECT max(us) AS mx FROM d)
SELECT user_id AS entity_id, CAST(count(*) AS BIGINT) AS n_events,
  round(list_sum(list(exp((us - (SELECT mx FROM mx))::DOUBLE * {c})
                      ORDER BY us, event_id)), 6) AS decayed_count
FROM d GROUP BY user_id
"""


SQL_DECAYED_COUNTS = _decayed_sql()

QUERIES["decayed_counts"] = q_decayed_counts
_RAW_ORACLES["decayed_counts"] = SQL_DECAYED_COUNTS


def q_ratio_to_parent(spark, sf_dir):
    """Share-of-total reporting rollup: each priority's share of its
    month's revenue — exact integer cents at both grains (ONE fact agg;
    the ratio window runs on the |months|x|priorities| aggregate frame
    only), one double division for the share."""
    od = load(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderpriority").alias("priority"),
        (
            F.signum("o_totalprice")
            * F.floor(F.abs(F.col("o_totalprice")) * 100 + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    g = od.groupBy("month", "priority").agg(
        F.sum("__c").cast("long").alias("revenue_cents")
    )
    w = Window.partitionBy("month")
    g = g.withColumn(
        "month_cents", F.sum("revenue_cents").over(w).cast("long")
    )
    share = (
        F.col("revenue_cents").cast("double")
        / F.col("month_cents").cast("double")
    )
    return g.select(
        "month",
        "priority",
        "revenue_cents",
        "month_cents",
        _r6(share).alias("share"),
    )


SQL_RATIO_TO_PARENT = """
WITH g AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
    o_orderpriority AS priority,
    CAST(sum(CAST(sign(o_totalprice) * floor(abs(o_totalprice)*100 + 0.5)
             AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders GROUP BY 1, 2
)
SELECT month, priority, revenue_cents,
  CAST(sum(revenue_cents) OVER (PARTITION BY month) AS BIGINT)
    AS month_cents,
  round(revenue_cents::DOUBLE
        / CAST(sum(revenue_cents) OVER (PARTITION BY month) AS DOUBLE),
        6) AS share
FROM g
"""

QUERIES["ratio_to_parent"] = q_ratio_to_parent
_RAW_ORACLES["ratio_to_parent"] = SQL_RATIO_TO_PARENT


def q_chi2_independence(spark, sf_dir):
    """Chi-square independence of six-hour daypart vs event type
    (operators/profiles.py chi2_independence): exact contingency cells
    from ONE agg, marginals via windows over the 20-cell frame,
    contributions folded in (row,col)-sorted order, Cramér's V."""
    from mpds_spark.operators.profiles import chi2_independence

    ev = _events(spark, sf_dir).select(
        F.expr(
            "cast((unix_micros(cast(ts as timestamp)) "
            "div 21600000000) % 4 as bigint)"
        ).alias("daypart"),
        "event_type",
    )
    out = chi2_independence(ev, row="daypart", col="event_type")
    return out.select(
        "daypart",
        "event_type",
        "obs",
        _r6("expected").alias("expected"),
        _r6("contrib").alias("contrib"),
        _r6("chi2_total").alias("chi2_total"),
        "dof",
        _r6("cramers_v").alias("cramers_v"),
    )


SQL_CHI2_INDEPENDENCE = """
WITH e AS (
  SELECT CAST((epoch_us(ts) // 21600000000) % 4 AS BIGINT) AS daypart,
    event_type
  FROM events
), cells AS (
  SELECT daypart, event_type, CAST(count(*) AS BIGINT) AS obs
  FROM e GROUP BY daypart, event_type
), m AS (
  SELECT daypart, event_type, obs,
    CAST(sum(obs) OVER (PARTITION BY daypart) AS BIGINT) AS rt,
    CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS ct,
    CAST(sum(obs) OVER () AS BIGINT) AS n
  FROM cells
), x AS (
  SELECT *,
    CAST(rt * ct AS DOUBLE) / n::DOUBLE AS expected,
    (obs::DOUBLE - CAST(rt * ct AS DOUBLE) / n::DOUBLE)
      * (obs::DOUBLE - CAST(rt * ct AS DOUBLE) / n::DOUBLE)
      / (CAST(rt * ct AS DOUBLE) / n::DOUBLE) AS contrib
  FROM m
), tot AS (
  SELECT list_sum(list(contrib ORDER BY daypart, event_type)) AS chi2,
    CAST(count(DISTINCT daypart) AS BIGINT) AS nr,
    CAST(count(DISTINCT event_type) AS BIGINT) AS nc,
    CAST(max(n) AS BIGINT) AS n
  FROM x
)
SELECT x.daypart, x.event_type, x.obs,
  round(x.expected, 6) AS expected,
  round(x.contrib, 6) AS contrib,
  round(t.chi2, 6) AS chi2_total,
  CAST((t.nr - 1) * (t.nc - 1) AS BIGINT) AS dof,
  round(sqrt(t.chi2 / CAST(t.n * least(t.nr - 1, t.nc - 1) AS DOUBLE)),
        6) AS cramers_v
FROM x CROSS JOIN tot t
"""

QUERIES["chi2_independence"] = q_chi2_independence
_RAW_ORACLES["chi2_independence"] = SQL_CHI2_INDEPENDENCE


def q_max_drawdown(spark, sf_dir):
    """Max drawdown of each user's cumulative value stream
    (operators/windows.py max_drawdown): running sum + running max +
    rollup all exact integer cents on ONE entity exchange — zero float
    folds anywhere."""
    from mpds_spark.operators.windows import max_drawdown

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "value", "event_id"
    ).filter(F.col("value").isNotNull())
    return max_drawdown(
        ev, value="value", ts="ts", by="entity_id",
        tiebreak=("event_id",),
    )


SQL_MAX_DRAWDOWN = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CAST(sign(value) * floor(abs(value)*100 + 0.5) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
), cu AS (
  SELECT user_id, us, event_id, y,
    CAST(sum(y) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM e
), c AS (
  SELECT user_id, y, cum,
    CAST(max(cum) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
  FROM cu
)
SELECT user_id AS entity_id, CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(y) AS BIGINT) AS final_cents,
  CAST(max(peak) AS BIGINT) AS peak_cents,
  CAST(max(peak - cum) AS BIGINT) AS max_drawdown_cents
FROM c GROUP BY user_id
"""

QUERIES["max_drawdown"] = q_max_drawdown
_RAW_ORACLES["max_drawdown"] = SQL_MAX_DRAWDOWN


def q_activity_streaks(spark, sf_dir):
    """Consecutive-day activity streaks per user (operators/windows.py
    activity_streaks): gaps-and-islands over distinct active days —
    day minus row_number is constant within a run; the whole chain is
    entity-cluster-keyed, no self-join."""
    from mpds_spark.operators.windows import activity_streaks

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts"
    )
    return activity_streaks(ev, by="entity_id", ts="ts")


SQL_ACTIVITY_STREAKS = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
  FROM events
), r AS (
  SELECT user_id, day,
    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      AS anchor
  FROM d
), s AS (
  SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len,
    CAST(max(day) AS BIGINT) AS end_day
  FROM r GROUP BY user_id, anchor
)
SELECT user_id AS entity_id,
  CAST(sum(len) AS BIGINT) AS n_active_days,
  CAST(count(*) AS BIGINT) AS n_streaks,
  CAST(max(len) AS BIGINT) AS longest_streak,
  CAST(max(end_day) AS BIGINT) AS current_streak_end_day
FROM s GROUP BY user_id
"""

QUERIES["activity_streaks"] = q_activity_streaks
_RAW_ORACLES["activity_streaks"] = SQL_ACTIVITY_STREAKS


def q_pareto_frontier(spark, sf_dir):
    """2-D Pareto frontier of parts on (price asc, size desc)
    (operators/pairs.py pareto_frontier, Börzsönyi et al. 2001): the
    one-sort skyline — two RANGE frames on exact price cents over one
    ordering; the oracle is the NOT-EXISTS domination definition
    itself, proving the window formulation."""
    from mpds_spark.operators.pairs import pareto_frontier

    pt = load(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_frontier(
        pt, key="p_partkey", minimize="p_retailprice",
        maximize="p_size",
    )


SQL_PARETO_FRONTIER = """
WITH p AS (
  SELECT p_partkey, p_retailprice, p_size,
    CAST(sign(p_retailprice) * floor(abs(p_retailprice)*100 + 0.5)
         AS BIGINT) AS c
  FROM part
)
SELECT a.p_partkey, a.p_retailprice, a.p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.c <= a.c AND b.p_size >= a.p_size
    AND (b.c < a.c OR b.p_size > a.p_size)
)
"""

QUERIES["pareto_frontier"] = q_pareto_frontier
_RAW_ORACLES["pareto_frontier"] = SQL_PARETO_FRONTIER


def q_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution of purchase value to view/click
    touches within a 7-day lookback (operators/funnels.py
    linear_attribution): interval-join shape (entity equi-key, range
    post-filter), exact touch counts, per-type totals folded in
    conversion-id order; zero-touch conversions land in '(none)'."""
    from mpds_spark.operators.funnels import linear_attribution

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        "ts",
        "event_type",
        "value",
        "event_id",
    )
    out = linear_attribution(ev)
    return out.select(
        "touch_type",
        "n_conversions",
        "n_touches",
        _r6("attributed_value").alias("attributed_value"),
    )


SQL_LINEAR_ATTRIBUTION = """
WITH conv AS (
  SELECT event_id AS cid, user_id, epoch_us(ts) AS cu,
    CAST(sign(value) * floor(abs(value)*100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, epoch_us(ts) AS tu, event_type AS tk
  FROM events WHERE event_type IN ('view', 'click')
), m AS (
  SELECT c.cid, c.cents, t.tk
  FROM conv c LEFT JOIN touch t ON t.user_id = c.user_id
    AND t.tu <= c.cu AND t.tu > c.cu - 604800000000
), pc AS (
  SELECT cid, cents, CAST(count(tk) AS BIGINT) AS n
  FROM m GROUP BY cid, cents
), pt AS (
  SELECT cid, tk, CAST(count(*) AS BIGINT) AS nt
  FROM m WHERE tk IS NOT NULL GROUP BY cid, tk
), typed AS (
  SELECT pt.cid, pt.tk, pt.nt,
    pc.cents::DOUBLE * pt.nt::DOUBLE / pc.n::DOUBLE / 100.0 AS contrib
  FROM pt JOIN pc ON pc.cid = pt.cid
  UNION ALL
  SELECT cid, '(none)' AS tk, CAST(0 AS BIGINT) AS nt,
    cents::DOUBLE / 100.0 AS contrib
  FROM pc WHERE n = 0
)
SELECT tk AS touch_type, CAST(count(*) AS BIGINT) AS n_conversions,
  CAST(sum(nt) AS BIGINT) AS n_touches,
  round(list_sum(list(contrib ORDER BY cid)), 6) AS attributed_value
FROM typed GROUP BY tk
"""

QUERIES["linear_attribution"] = q_linear_attribution
_RAW_ORACLES["linear_attribution"] = SQL_LINEAR_ATTRIBUTION


def q_ltv_curves(spark, sf_dir):
    """Cohort lifetime-value curves: cumulative purchase revenue per
    (first-activity cohort WEEK, 7-day age period) — first-activity
    agg, one (cohort, age) rollup with exact cents and distinct actives,
    cumulative window over the tiny curve frame."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
        "event_type",
        "value",
    )
    first = ev.groupBy("user_id").agg(F.min("__us").alias("__f"))
    j = ev.join(first, "user_id").select(
        "user_id",
        F.expr("(__f div 86400000000) div 7").alias("cohort_week"),
        F.expr("(__us - __f) div 604800000000").alias("age_period"),
        F.when(
            F.col("event_type") == "purchase",
            (
                F.signum("value")
                * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
            ).cast("long"),
        ).otherwise(F.lit(0)).alias("__cents"),
    )
    g = j.groupBy("cohort_week", "age_period").agg(
        F.count_distinct("user_id").cast("long").alias("n_active_users"),
        F.sum("__cents").cast("long").alias("revenue_cents"),
    )
    w = Window.partitionBy("cohort_week").orderBy(
        "age_period"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return g.withColumn(
        "cum_revenue_cents", F.sum("revenue_cents").over(w).cast("long")
    ).select(
        "cohort_week",
        "age_period",
        "n_active_users",
        "revenue_cents",
        "cum_revenue_cents",
    )


SQL_LTV_CURVES = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_type,
    CAST(sign(value) * floor(abs(value)*100 + 0.5) AS BIGINT) AS cents
  FROM events
), f AS (
  SELECT user_id, min(us) AS fus FROM e GROUP BY user_id
), j AS (
  SELECT e.user_id,
    CAST((f.fus // 86400000000) // 7 AS BIGINT) AS cohort_week,
    (e.us - f.fus) // 604800000000 AS age_period,
    CASE WHEN e.event_type = 'purchase' THEN e.cents ELSE 0 END AS cents
  FROM e JOIN f ON f.user_id = e.user_id
), g AS (
  SELECT cohort_week, CAST(age_period AS BIGINT) AS age_period,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users,
    CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM j GROUP BY cohort_week, age_period
)
SELECT cohort_week, age_period, n_active_users, revenue_cents,
  CAST(sum(revenue_cents) OVER (PARTITION BY cohort_week ORDER BY age_period
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_revenue_cents
FROM g
"""

QUERIES["ltv_curves"] = q_ltv_curves
_RAW_ORACLES["ltv_curves"] = SQL_LTV_CURVES


def q_fulfillment_latency(spark, sf_dir):
    """Order-to-first-shipment latency p50/p90 per priority: per-order
    min shipdate joined to orders (order-keyed), exact day latency,
    EXACT grouped quantiles via the K-in-one-pass bracketed selection
    (operators/scale.py exact_grouped_quantiles_multi) — no value map
    on a reducer, no driver collect."""
    from mpds_spark.operators.scale import exact_grouped_quantiles_multi

    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.min(
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
        ).alias("__ship")
    )
    od = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
            "__ord"
        ),
    )
    lat = od.join(li, od["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        ((F.col("__ship") - F.col("__ord")) / F.lit(86400e6)).alias(
            "latency_days"
        ),
    )
    out = exact_grouped_quantiles_multi(
        lat, "priority", "latency_days", ps=[0.5, 0.9]
    )
    return out.select(
        "priority",
        F.col("p").cast("double").alias("p"),
        _r6("q_latency_days").alias("latency_days"),
    )


SQL_FULFILLMENT_LATENCY = """
WITH s AS (
  SELECT l_orderkey, min(epoch_us(l_shipdate)) AS ship
  FROM lineitem GROUP BY l_orderkey
), lat AS (
  SELECT o.o_orderpriority AS priority,
    (s.ship - epoch_us(o.o_orderdate)) / 86400000000.0 AS latency_days
  FROM orders o JOIN s ON s.l_orderkey = o.o_orderkey
)
SELECT priority, p, round(q, 6) AS latency_days
FROM (
  SELECT priority, 0.5 AS p,
    quantile_cont(latency_days, 0.5) AS q
  FROM lat GROUP BY priority
  UNION ALL
  SELECT priority, 0.9 AS p,
    quantile_cont(latency_days, 0.9) AS q
  FROM lat GROUP BY priority
)
"""

QUERIES["fulfillment_latency"] = q_fulfillment_latency
_RAW_ORACLES["fulfillment_latency"] = SQL_FULFILLMENT_LATENCY


def q_log_odds_words(spark, sf_dir):
    """Top-20 words most distinctive of src0 vs src1 by weighted
    log-odds with informative Dirichlet prior (operators/text.py
    log_odds_words, Monroe et al. 2008): one word-keyed agg with
    conditional per-group sums, fixed double prior/z expressions,
    TakeOrdered on the rounded z."""
    from mpds_spark.operators.text import log_odds_words

    docs = load(spark, sf_dir, "documents").select("source", "text")
    out = log_odds_words(
        docs, group_a="src0", group_b="src1", group="source",
        text="text", alpha0=100.0, k=20,
    )
    return out.select(
        "word", "y_a", "y_b", _r6("delta").alias("delta"),
        _r6("z").alias("z"),
    )


SQL_LOG_ODDS_WORDS = """
WITH w AS (
  SELECT source = 'src0' AS a, unnest(string_split(text, ' ')) AS word
  FROM documents WHERE source IN ('src0', 'src1')
), c AS (
  SELECT word,
    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS y_a,
    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS y_b
  FROM w WHERE word != '' GROUP BY word
), t AS (
  SELECT word, y_a, y_b,
    CAST(sum(y_a) OVER () AS BIGINT) AS na,
    CAST(sum(y_b) OVER () AS BIGINT) AS nb
  FROM c
), s AS (
  SELECT word, y_a, y_b,
    ln((y_a::DOUBLE + 100.0 * (y_a + y_b)::DOUBLE / (na + nb)::DOUBLE)
       / (na::DOUBLE + 100.0 - y_a::DOUBLE
          - 100.0 * (y_a + y_b)::DOUBLE / (na + nb)::DOUBLE))
    - ln((y_b::DOUBLE + 100.0 * (y_a + y_b)::DOUBLE / (na + nb)::DOUBLE)
       / (nb::DOUBLE + 100.0 - y_b::DOUBLE
          - 100.0 * (y_a + y_b)::DOUBLE / (na + nb)::DOUBLE)) AS delta,
    sqrt(1.0 / (y_a::DOUBLE + 100.0 * (y_a + y_b)::DOUBLE
                / (na + nb)::DOUBLE)
       + 1.0 / (y_b::DOUBLE + 100.0 * (y_a + y_b)::DOUBLE
                / (na + nb)::DOUBLE)) AS se
  FROM t
)
SELECT word, y_a, y_b, round(delta, 6) AS delta,
  round(delta / se, 6) AS z
FROM s
ORDER BY (floor(abs(delta / se)*1000000.0 + 0.5)/1000000.0
          *sign(delta / se)) DESC, word ASC
LIMIT 20
"""

QUERIES["log_odds_words"] = q_log_odds_words
_RAW_ORACLES["log_odds_words"] = SQL_LOG_ODDS_WORDS


def q_hll_rolling_merge(spark, sf_dir):
    """Trailing-7-day distinct-user estimates by max-merging daily HLL
    registers (operators/sketches.py hll_rolling_merge): the raw stream
    is scanned ONCE into daily registers; every window is a register
    MAX over tiny rows — the mergeable-sketch rollup that makes
    sliding distinct counts affordable at 100 TB. Exact trailing
    distinct computed beside it; the oracle rebuilds identical
    registers so the gate is EXACT."""
    from mpds_spark.operators.sketches import hll_rolling_merge

    ev = _events(spark, sf_dir).select("user_id", "ts")
    out = hll_rolling_merge(
        ev, key="user_id", ts="ts", window_days=7, p=8
    )
    return out.select(
        "day",
        "n_exact",
        "hll_buckets_hit",
        _r6("hll_estimate").alias("hll_estimate"),
        _r6("rel_err").alias("rel_err"),
    )


def _hll_rolling_sql() -> str:
    from mpds_spark.operators.sketches import hll_alpha

    amm = repr(hll_alpha(256) * 256 * 256)
    return f"""
WITH h AS (
  SELECT epoch_us(ts) // 86400000000 AS day, user_id,
    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
         AS BIGINT) AS hv
  FROM events
), br AS (
  SELECT day, user_id, hv >> 52 AS bucket,
    hv % 4503599627370496 AS r
  FROM h
), daily AS (
  SELECT day, bucket,
    max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END) AS m
  FROM br GROUP BY day, bucket
), active AS (SELECT DISTINCT day FROM br),
spread AS (
  SELECT unnest(generate_series(d.day, d.day + 6)) AS day, d.bucket, d.m
  FROM daily d
), merged AS (
  SELECT s.day, s.bucket, max(s.m) AS m
  FROM spread s JOIN active a ON a.day = s.day
  GROUP BY s.day, s.bucket
), folded AS (
  SELECT day, CAST(count(*) AS BIGINT) AS hll_buckets_hit,
    list_sum(list(1.0 / CAST(1::BIGINT << m AS DOUBLE) ORDER BY bucket))
      AS z_hit
  FROM merged GROUP BY day
), est AS (
  SELECT day, hll_buckets_hit,
    CASE WHEN ({amm} / (z_hit + CAST(256 - hll_buckets_hit AS DOUBLE)))
              <= 640.0
          AND (256 - hll_buckets_hit) > 0
      THEN 256.0 * ln(256.0 / CAST(256 - hll_buckets_hit AS DOUBLE))
      ELSE {amm} / (z_hit + CAST(256 - hll_buckets_hit AS DOUBLE))
    END AS e
  FROM folded
), du AS (
  SELECT DISTINCT day, user_id FROM br
), xspread AS (
  SELECT unnest(generate_series(du.day, du.day + 6)) AS day, du.user_id
  FROM du
), exact AS (
  SELECT x.day, CAST(count(DISTINCT x.user_id) AS BIGINT) AS n_exact
  FROM xspread x JOIN active a ON a.day = x.day GROUP BY x.day
)
SELECT CAST(x.day AS BIGINT) AS day, x.n_exact, s.hll_buckets_hit,
  round(s.e, 6) AS hll_estimate,
  round((s.e - x.n_exact::DOUBLE) / x.n_exact::DOUBLE, 6) AS rel_err
FROM exact x JOIN est s ON s.day = x.day
"""


SQL_HLL_ROLLING_MERGE = _hll_rolling_sql()

QUERIES["hll_rolling_merge"] = q_hll_rolling_merge
_RAW_ORACLES["hll_rolling_merge"] = SQL_HLL_ROLLING_MERGE


def q_snm_pairs(spark, sf_dir):
    """Sorted-neighborhood entity-resolution candidates over part names
    (operators/pairs.py snm_pairs, Hernández & Stolfo 1995): distinct
    names sorted once, each paired with its next 4 sort neighbors via
    lead() — never a self-join; Levenshtein <= 3 verify; heap top-50.
    The complementary generator to blocked_fuzzy_pairs."""
    from mpds_spark.operators.pairs import snm_pairs

    pt = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    return snm_pairs(
        pt, key="p_partkey", name="p_name", window=5, max_dist=3, k=50
    )


SQL_SNM_PAIRS = """
WITH base AS (
  SELECT p_name AS n, CAST(min(p_partkey) AS BIGINT) AS k,
    CAST(count(*) AS BIGINT) AS cnt
  FROM part GROUP BY p_name
), r AS (
  SELECT n, k, cnt, row_number() OVER (ORDER BY n) AS rn FROM base
)
SELECT least(a.k, b.k) AS key_a, greatest(a.k, b.k) AS key_b,
  CASE WHEN a.k < b.k THEN a.n ELSE b.n END AS name_a,
  CASE WHEN a.k < b.k THEN b.n ELSE a.n END AS name_b,
  CAST(levenshtein(a.n, b.n) AS INT) AS dist,
  CASE WHEN a.k < b.k THEN a.cnt ELSE b.cnt END AS n_a,
  CASE WHEN a.k < b.k THEN b.cnt ELSE a.cnt END AS n_b
FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4
WHERE levenshtein(a.n, b.n) <= 3
ORDER BY dist, key_a, key_b LIMIT 50
"""

QUERIES["snm_pairs"] = q_snm_pairs
_RAW_ORACLES["snm_pairs"] = SQL_SNM_PAIRS


def q_peak_concurrency(spark, sf_dir):
    """Peak concurrent 30-min activity windows per day
    (operators/sessionize.py peak_concurrency): the boundary sweep —
    +1/-1 ordered (time, delta) so ends precede starts at ties, one
    global running count, per-day (max, earliest-attaining-time)
    rollup. Capacity-planning metric; exact longs throughout."""
    from mpds_spark.operators.sessionize import peak_concurrency

    ev = _events(spark, sf_dir).select("ts")
    return peak_concurrency(ev, ts="ts", duration=1800.0)


SQL_PEAK_CONCURRENCY = """
WITH b AS (
  SELECT epoch_us(ts) AS t, 1 AS d FROM events
  UNION ALL
  SELECT epoch_us(ts) + 1800000000 AS t, -1 AS d FROM events
), r AS (
  SELECT t, d,
    CAST(sum(d) OVER (ORDER BY t, d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
  FROM b
), s AS (
  SELECT t // 86400000000 AS day, t, run FROM r WHERE d = 1
), p AS (
  SELECT day, max(run) AS peak FROM s GROUP BY day
)
SELECT CAST(p.day AS BIGINT) AS day,
  CAST(p.peak AS BIGINT) AS peak_concurrent,
  CAST(min(s.t) AS BIGINT) AS peak_at_us
FROM p JOIN s ON s.day = p.day AND s.run = p.peak
GROUP BY p.day, p.peak
"""

QUERIES["peak_concurrency"] = q_peak_concurrency
_RAW_ORACLES["peak_concurrency"] = SQL_PEAK_CONCURRENCY


def q_join_size_audit(spark, sf_dir):
    """Exact equi-join cardinalities vs the Selinger uniform-frequency
    estimate for three star relations (operators/validate.py
    join_size_audit): per-key count frames joined — never the raw
    tables — exact decimal products, one double division per row."""
    from mpds_spark.operators.validate import join_size_audit

    ev = _events(spark, sf_dir)
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    audits = [
        join_size_audit(
            orders, cust, "o_custkey", "c_custkey", "orders*customer"
        ),
        join_size_audit(
            li, orders, "l_orderkey", "o_orderkey", "lineitem*orders"
        ),
        join_size_audit(
            li, part, "l_partkey", "p_partkey", "lineitem*part"
        ),
        join_size_audit(
            ev, cust, "user_id", "c_custkey", "events*customer"
        ),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.select(
        "relation",
        "n_left",
        "n_right",
        "ndv_left",
        "ndv_right",
        "actual_rows",
        _r6("est_rows").alias("est_rows"),
        _r6("ratio").alias("ratio"),
    )


def _join_audit_block(lsql, rsql, relation):
    return f"""
SELECT '{relation}' AS relation,
  (SELECT CAST(count(*) AS BIGINT) FROM ({lsql})) AS n_left,
  (SELECT CAST(count(*) AS BIGINT) FROM ({rsql})) AS n_right,
  (SELECT CAST(count(DISTINCT k) AS BIGINT) FROM ({lsql})) AS ndv_left,
  (SELECT CAST(count(DISTINCT k) AS BIGINT) FROM ({rsql})) AS ndv_right,
  (SELECT CAST(coalesce(sum(cl * cr), 0) AS BIGINT) FROM
     (SELECT k, CAST(count(*) AS HUGEINT) AS cl FROM ({lsql}) GROUP BY k) a
     JOIN
     (SELECT k, CAST(count(*) AS HUGEINT) AS cr FROM ({rsql}) GROUP BY k) b
     ON a.k = b.k) AS actual_rows,
  round(
    (SELECT count(*) FROM ({lsql}))::DOUBLE
    * (SELECT count(*) FROM ({rsql}))::DOUBLE
    / greatest((SELECT count(DISTINCT k) FROM ({lsql})),
               (SELECT count(DISTINCT k) FROM ({rsql})))::DOUBLE, 6)
    AS est_rows,
  round(
    (SELECT CAST(coalesce(sum(cl * cr), 0) AS HUGEINT) FROM
     (SELECT k, CAST(count(*) AS HUGEINT) AS cl FROM ({lsql}) GROUP BY k) a
     JOIN
     (SELECT k, CAST(count(*) AS HUGEINT) AS cr FROM ({rsql}) GROUP BY k) b
     ON a.k = b.k)::DOUBLE
    / ((SELECT count(*) FROM ({lsql}))::DOUBLE
       * (SELECT count(*) FROM ({rsql}))::DOUBLE
       / greatest((SELECT count(DISTINCT k) FROM ({lsql})),
                  (SELECT count(DISTINCT k) FROM ({rsql})))::DOUBLE), 6)
    AS ratio
"""


SQL_JOIN_SIZE_AUDIT = " UNION ALL ".join(
    [
        _join_audit_block(
            "SELECT o_custkey AS k FROM orders",
            "SELECT c_custkey AS k FROM customer",
            "orders*customer",
        ),
        _join_audit_block(
            "SELECT l_orderkey AS k FROM lineitem",
            "SELECT o_orderkey AS k FROM orders",
            "lineitem*orders",
        ),
        _join_audit_block(
            "SELECT l_partkey AS k FROM lineitem",
            "SELECT p_partkey AS k FROM part",
            "lineitem*part",
        ),
        _join_audit_block(
            "SELECT user_id AS k FROM events",
            "SELECT c_custkey AS k FROM customer",
            "events*customer",
        ),
    ]
)

QUERIES["join_size_audit"] = q_join_size_audit
_RAW_ORACLES["join_size_audit"] = SQL_JOIN_SIZE_AUDIT


def q_log2_histogram(spark, sf_dir):
    """Power-of-two histogram of per-user event counts (the activity
    profile every ops dashboard shows): bucket = floor(log2 n) computed
    from the bin()-string length — never libm log2; one user agg + one
    tiny bucket agg, all exact longs."""
    ev = _events(spark, sf_dir).select("user_id")
    n = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    b = n.select(
        (F.length(F.bin(F.col("__n"))) - 1).cast("long").alias("bucket")
    )
    out = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    return out.select(
        "bucket",
        F.expr("cast(1 as bigint) << cast(bucket as int)").alias("lo"),
        (
            F.expr("cast(1 as bigint) << (cast(bucket as int) + 1)") - 1
        ).alias("hi"),
        "n_users",
    )


SQL_LOG2_HISTOGRAM = """
WITH n AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
), b AS (
  SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket FROM n
)
SELECT bucket,
  CAST(1::BIGINT << CAST(bucket AS INT) AS BIGINT) AS lo,
  CAST((1::BIGINT << (CAST(bucket AS INT) + 1)) - 1 AS BIGINT) AS hi,
  CAST(count(*) AS BIGINT) AS n_users
FROM b GROUP BY bucket
"""

QUERIES["log2_histogram"] = q_log2_histogram
_RAW_ORACLES["log2_histogram"] = SQL_LOG2_HISTOGRAM


def q_calendar_features(spark, sf_dir):
    """Calendar feature extraction — the feature-eng staple whose
    cross-engine parity is genuinely subtle (weekday and week-of-year
    conventions differ per engine): ISO weekday (1=Mon..7=Sun) via
    Spark weekday()+1 == DuckDB isodow, ISO week number (Spark
    weekofyear == DuckDB week), weekend flag, month/quarter/hour,
    epoch day. Pure map stage, zero shuffles beyond none."""
    ev = _events(spark, sf_dir).select(
        "event_id", F.col("ts").cast("timestamp").alias("__t")
    )
    return ev.select(
        "event_id",
        F.expr("unix_micros(__t) div 86400000000").alias("epoch_day"),
        (F.weekday("__t") + 1).cast("long").alias("iso_dow"),
        (F.weekday("__t") >= 5).alias("is_weekend"),
        F.weekofyear("__t").cast("long").alias("iso_week"),
        F.month("__t").cast("long").alias("month"),
        F.quarter("__t").cast("long").alias("quarter"),
        F.hour("__t").cast("long").alias("hour"),
    )


SQL_CALENDAR_FEATURES = """
SELECT event_id,
  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS epoch_day,
  CAST(isodow(ts) AS BIGINT) AS iso_dow,
  isodow(ts) >= 6 AS is_weekend,
  CAST(week(ts) AS BIGINT) AS iso_week,
  CAST(month(ts) AS BIGINT) AS month,
  CAST(quarter(ts) AS BIGINT) AS quarter,
  CAST(hour(ts) AS BIGINT) AS hour
FROM events
"""

QUERIES["calendar_features"] = q_calendar_features
_RAW_ORACLES["calendar_features"] = SQL_CALENDAR_FEATURES


def q_theil_sen_slope(spark, sf_dir):
    """Theil-Sen robust per-entity trend (operators/windows.py
    theil_sen): exact median of all pairwise slopes, pair expansion
    JVM-side on the per-entity sorted array — never a self-join. The
    oracle IS the naive pairwise self-join + explicit middle-element
    selection, proving the array formulation."""
    from mpds_spark.operators.windows import theil_sen

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "value"
    )
    out = theil_sen(ev, value="value", ts="ts", by="entity_id")
    return out.select(
        "entity_id", "n_obs", "n_pairs",
        _r6("slope_per_day").alias("slope_per_day"),
    )


SQL_THEIL_SEN = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS x,
         CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS y
  FROM events
), p AS (
  SELECT a.user_id,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
  FROM e a JOIN e b ON a.user_id = b.user_id AND b.x > a.x
), r AS (
  SELECT user_id, s,
         row_number() OVER (PARTITION BY user_id ORDER BY s) AS rn,
         count(*) OVER (PARTITION BY user_id) AS m
  FROM p
), g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs FROM e GROUP BY user_id
)
SELECT g.user_id AS entity_id, g.n_obs,
  CAST(g.n_obs*(g.n_obs-1)//2 AS BIGINT) AS n_pairs,
  round((lo.s + hi.s)/2.0 * 864000000.0, 6) AS slope_per_day
FROM g
JOIN (SELECT user_id, s FROM r WHERE rn = (m+1)//2) lo ON g.user_id = lo.user_id
JOIN (SELECT user_id, s FROM r WHERE rn = (m+2)//2) hi ON g.user_id = hi.user_id
WHERE g.n_obs >= 2
"""

QUERIES["theil_sen_slope"] = q_theil_sen_slope
_RAW_ORACLES["theil_sen_slope"] = SQL_THEIL_SEN


def q_spearman_rank(spark, sf_dir):
    """Spearman rank correlation of per-customer order count vs total
    spend, beside the raw Pearson r (operators/profiles.py
    spearman_corr): tie-correct average ranks WITHOUT a global sort —
    distinct-value frame + one cumulative window over it + broadcast
    join back; all moments DECIMAL(38,0)-exact on doubled ranks. The
    per-customer base frame is scratch-persisted: three plan branches
    (two value frames + the moment scan) read it, and without the pin
    each would re-aggregate orders from the scan."""
    from mpds_spark.operators.profiles import spearman_corr
    from mpds_spark.operators.util import scratch_persist

    od = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice")
        * F.floor(F.abs(F.col("o_totalprice")) * 100 + F.lit(0.5))
    ).cast("long")
    base = scratch_persist(
        od.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("nx"),
            F.sum(cents).cast("long").alias("yv"),
        )
    )
    out = spearman_corr(base, x="nx", y="yv")
    return out.select(
        "n_units",
        _r6("spearman_rho").alias("spearman_rho"),
        _r6("pearson_r").alias("pearson_r"),
    )


SQL_SPEARMAN_RANK = """
WITH base AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS nx,
    CAST(sum(CAST(floor(abs(o_totalprice)*100 + 0.5)*sign(o_totalprice)
                  AS BIGINT)) AS BIGINT) AS yv
  FROM orders GROUP BY o_custkey
), vx AS (
  SELECT nx,
    2*coalesce(sum(count(*)) OVER (ORDER BY nx
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + count(*) + 1 AS rx
  FROM base GROUP BY nx
), vy AS (
  SELECT yv,
    2*coalesce(sum(count(*)) OVER (ORDER BY yv
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + count(*) + 1 AS ry
  FROM base GROUP BY yv
), d AS (
  SELECT CAST(base.nx AS HUGEINT) AS x, CAST(base.yv AS HUGEINT) AS y,
         CAST(vx.rx AS HUGEINT) AS rx, CAST(vy.ry AS HUGEINT) AS ry
  FROM base JOIN vx ON base.nx = vx.nx JOIN vy ON base.yv = vy.yv
), mo AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
    sum(rx) AS srx, sum(ry) AS sry, sum(rx*rx) AS srxx,
    sum(ry*ry) AS sryy, sum(rx*ry) AS srxy,
    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
    sum(y*y) AS syy, sum(x*y) AS sxy
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_units,
  round(CAST(n*srxy - srx*sry AS DOUBLE)
    / sqrt(CAST(n*srxx - srx*srx AS DOUBLE)
           * CAST(n*sryy - sry*sry AS DOUBLE)), 6) AS spearman_rho,
  round(CAST(n*sxy - sx*sy AS DOUBLE)
    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
           * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS pearson_r
FROM mo
"""

QUERIES["spearman_rank"] = q_spearman_rank
_RAW_ORACLES["spearman_rank"] = SQL_SPEARMAN_RANK


def q_cuped_adjust(spark, sf_dir):
    """CUPED variance-reduction audit (operators/profiles.py cuped):
    pre-period spend as covariate, post-period spend as metric per
    user, split at the exact integer-microsecond midpoint of the
    corpus span (1-row scalar broadcast, registered BNLJ-by-design);
    theta and the adjusted-metric variance derived analytically from
    DECIMAL(38,0)-exact moments — no per-unit float fold."""
    from mpds_spark.operators.profiles import cuped

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
        (
            F.signum("value")
            * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
        ).cast("long").alias("__yc"),
    )
    b = ev.agg(F.min("__us").alias("__mn"), F.max("__us").alias("__mx"))
    ev = ev.crossJoin(F.broadcast(b)).withColumn(
        "__mid", F.expr("__mn + (__mx - __mn) div 2")
    )
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("__us") <= F.col("__mid"), F.col("__yc"))
            .otherwise(F.lit(0))
        ).cast("long").alias("x"),
        F.sum(
            F.when(F.col("__us") > F.col("__mid"), F.col("__yc"))
            .otherwise(F.lit(0))
        ).cast("long").alias("y"),
    )
    out = cuped(u, x="x", y="y")
    return out.select(
        "n_units",
        _r6("theta").alias("theta"),
        _r6("var_y").alias("var_y"),
        _r6("var_cuped").alias("var_cuped"),
        _r6("reduction_pct").alias("reduction_pct"),
    )


SQL_CUPED_ADJUST = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS yc
  FROM events
), b AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
m AS (SELECT mn + (mx - mn) // 2 AS mid FROM b),
u AS (
  SELECT user_id,
    CAST(sum(CASE WHEN us <= (SELECT mid FROM m) THEN yc ELSE 0 END)
         AS HUGEINT) AS x,
    CAST(sum(CASE WHEN us > (SELECT mid FROM m) THEN yc ELSE 0 END)
         AS HUGEINT) AS y
  FROM e GROUP BY user_id
), mo AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
  FROM u
)
SELECT CAST(n AS BIGINT) AS n_units,
  round(CAST(n*sxy - sx*sy AS DOUBLE)
        / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS theta,
  round(CAST(n*syy - sy*sy AS DOUBLE)
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 10000.0), 6)
    AS var_y,
  round((CAST(n*syy - sy*sy AS DOUBLE)
         - CAST(n*sxy - sx*sy AS DOUBLE)*CAST(n*sxy - sx*sy AS DOUBLE)
           / CAST(n*sxx - sx*sx AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 10000.0), 6)
    AS var_cuped,
  round(100.0 * CAST(n*sxy - sx*sy AS DOUBLE)
        * CAST(n*sxy - sx*sy AS DOUBLE)
        / (CAST(n*sxx - sx*sx AS DOUBLE)
           * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS reduction_pct
FROM mo
"""

QUERIES["cuped_adjust"] = q_cuped_adjust
_RAW_ORACLES["cuped_adjust"] = SQL_CUPED_ADJUST


def q_ams_f2_sketch(spark, sf_dir):
    """AMS F2 sketch vs exact self-join size of events.user_id
    (operators/sketches.py ams_f2): 16 sign counters folded over the
    raw stream with md5-parity signs — zero per-key state — then
    median-of-means; exact F2 from the per-user count pass beside it.
    The oracle rebuilds the identical counters, so the gate is EXACT
    despite the approximate estimator."""
    from mpds_spark.operators.sketches import ams_f2

    ev = _events(spark, sf_dir).select("user_id")
    out = ams_f2(ev, key="user_id")
    return out.select(
        "n_rows", "f2_exact",
        _r6("f2_est").alias("f2_est"),
        _r6("rel_err").alias("rel_err"),
    )


SQL_AMS_F2 = """
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events
), sk AS (
  SELECT j,
    CAST(sum(2*(('0x' || substring(md5('ams' || CAST(j AS VARCHAR)
        || '|' || k), 1, 1))::UBIGINT % 2)::BIGINT - 1) AS BIGINT) AS y
  FROM e, (SELECT unnest(generate_series(0, 15)) AS j)
  GROUP BY j
), mg AS (
  SELECT j // 4 AS g, CAST(sum(y*y) AS DOUBLE) / 4.0 AS m
  FROM sk GROUP BY j // 4
), est AS (
  SELECT (ms[(len(ms)+1)//2] + ms[(len(ms)+2)//2]) / 2.0 AS f2_est
  FROM (SELECT list(m ORDER BY m) AS ms FROM mg)
), ex AS (
  SELECT CAST(sum(f) AS BIGINT) AS n_rows,
         CAST(sum(f*f) AS BIGINT) AS f2_exact
  FROM (SELECT count(*) AS f FROM e GROUP BY k)
)
SELECT n_rows, f2_exact, round(f2_est, 6) AS f2_est,
  round((f2_est - f2_exact::DOUBLE) / f2_exact::DOUBLE, 6) AS rel_err
FROM ex, est
"""

QUERIES["ams_f2_sketch"] = q_ams_f2_sketch
_RAW_ORACLES["ams_f2_sketch"] = SQL_AMS_F2


def q_good_turing(spark, sf_dir):
    """Good-Turing frequency-of-frequencies over the documents corpus
    (operators/text.py good_turing): exact (r, N_r) table with the
    Turing-adjusted count (r+1)N_{r+1}/N_r and each bucket's share of
    corpus mass — the smoothing backbone of Katz backoff and the
    unseen-mass estimate."""
    from mpds_spark.operators.text import good_turing

    docs = load(spark, sf_dir, "documents")
    out = good_turing(docs, text="text")
    return out.select(
        "r", "n_r",
        _r6("r_star").alias("r_star"),
        _r6("mass_pct").alias("mass_pct"),
    )


SQL_GOOD_TURING = """
WITH w AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
  WHERE trim(text) <> ''
), wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS r FROM w
  WHERE word <> '' GROUP BY word
), nr AS (
  SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM wf GROUP BY r
)
SELECT a.r, a.n_r,
  round(CAST(a.r + 1 AS DOUBLE) * CAST(b.n_r AS DOUBLE)
        / CAST(a.n_r AS DOUBLE), 6) AS r_star,
  round(100.0 * CAST(a.r * a.n_r AS DOUBLE)
        / CAST((SELECT sum(r * n_r) FROM nr) AS DOUBLE), 6) AS mass_pct
FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
"""

QUERIES["good_turing"] = q_good_turing
_RAW_ORACLES["good_turing"] = SQL_GOOD_TURING


def q_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity release audit over customers
    (operators/validate.py k_anonymity): QI = (mktsegment, nationkey),
    sensitive = exact acctbal cents; per-threshold counts of
    under-anonymized classes and exposed rows, worst-case sensitive
    diversity — all exact longs, one QI agg + one tiny k agg."""
    from mpds_spark.operators.validate import k_anonymity

    cust = load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        (
            F.signum("c_acctbal")
            * F.floor(F.abs(F.col("c_acctbal")) * 100 + F.lit(0.5))
        ).cast("long").alias("__bal_c"),
    )
    return k_anonymity(
        cust,
        qi=("c_mktsegment", "c_nationkey"),
        sensitive="__bal_c",
    ).select(
        "k", "n_classes", "min_class_size", "min_l_div",
        "classes_below", "rows_at_risk",
        _r6("risk_pct").alias("risk_pct"),
    )


SQL_K_ANONYMITY = """
WITH cls AS (
  SELECT c_mktsegment, c_nationkey,
    CAST(count(*) AS BIGINT) AS sz,
    CAST(count(DISTINCT CAST(floor(abs(c_acctbal)*100 + 0.5)
         * sign(c_acctbal) AS BIGINT)) AS BIGINT) AS ldiv
  FROM customer GROUP BY c_mktsegment, c_nationkey
), e AS (
  SELECT sz, ldiv, CAST(k AS BIGINT) AS k
  FROM cls, (SELECT unnest([2, 5, 10, 20]) AS k)
)
SELECT k,
  CAST(count(*) AS BIGINT) AS n_classes,
  CAST(min(sz) AS BIGINT) AS min_class_size,
  CAST(min(ldiv) AS BIGINT) AS min_l_div,
  CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
    AS classes_below,
  CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
    AS rows_at_risk,
  round(100.0 * CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
        / CAST(sum(sz) AS DOUBLE), 6) AS risk_pct
FROM e GROUP BY k
"""

QUERIES["k_anonymity"] = q_k_anonymity
_RAW_ORACLES["k_anonymity"] = SQL_K_ANONYMITY


def q_pmi_pairs(spark, sf_dir):
    """Windowed PMI collocations over documents (operators/text.py
    pmi_pairs, Church & Hanks 1990): pairs within 3 positions via the
    exact-offset posting equi-join (never a theta self-join), support
    guard >= 10, top-50 by (rounded PMI desc, pair); the oracle IS the
    positional theta-join definition, proving the offset-explode."""
    from mpds_spark.operators.text import pmi_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_pairs(docs, text="text", window=3, min_pair=10, k=50)


SQL_PMI_PAIRS = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), p AS (
  SELECT doc_id, i AS pos, w[i] AS word
  FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
  WHERE w[i] <> ''
), pairs AS (
  SELECT least(a.word, b.word) AS word_a,
         greatest(a.word, b.word) AS word_b
  FROM p a JOIN p b ON a.doc_id = b.doc_id
   AND b.pos - a.pos BETWEEN 1 AND 3
  WHERE a.word <> b.word
), pc AS (
  SELECT word_a, word_b, CAST(count(*) AS BIGINT) AS c_pair
  FROM pairs GROUP BY word_a, word_b
), tot AS (SELECT CAST(sum(c_pair) AS HUGEINT) AS t FROM pc),
marg AS (SELECT word, CAST(count(*) AS HUGEINT) AS c FROM p GROUP BY word),
ntot AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM p)
SELECT word_a, word_b, c_pair,
  round(ln(CAST(CAST(c_pair AS HUGEINT) * (SELECT n FROM ntot)
                * (SELECT n FROM ntot) AS DOUBLE)
           / CAST((SELECT t FROM tot) * ma.c * mb.c AS DOUBLE)), 6)
    AS pmi
FROM pc
JOIN marg ma ON pc.word_a = ma.word
JOIN marg mb ON pc.word_b = mb.word
WHERE c_pair >= 10
ORDER BY pmi DESC, word_a, word_b
LIMIT 50
"""

QUERIES["pmi_pairs"] = q_pmi_pairs
_RAW_ORACLES["pmi_pairs"] = SQL_PMI_PAIRS


def q_sax_symbols(spark, sf_dir):
    """SAX words per entity (operators/windows.py sax_symbols, Lin et
    al. 2003): 8-segment PAA of the cents stream z-scored on exact
    entity moments (the cents scale cancels inside z), 4-letter
    quartile alphabet — the output is a STRING, gated exactly."""
    from mpds_spark.operators.windows import sax_symbols

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "value"
    )
    return sax_symbols(ev, value="value", ts="ts", by="entity_id")


SQL_SAX_SYMBOLS = """
WITH e AS (
  SELECT user_id, ts,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c,
    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), seg AS (
  SELECT user_id, (rn - 1) * 8 // n AS seg,
    CAST(count(*) AS BIGINT) AS k, CAST(sum(c) AS BIGINT) AS sc,
    sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ssq
  FROM e GROUP BY user_id, (rn - 1) * 8 // n
), mo AS (
  SELECT user_id, CAST(sum(k) AS BIGINT) AS nn,
    CAST(sum(sc) AS HUGEINT) AS sx, CAST(sum(ssq) AS HUGEINT) AS sxx
  FROM seg GROUP BY user_id
), z AS (
  SELECT seg.user_id, seg.seg,
    ((CAST(sc AS DOUBLE) / CAST(k AS DOUBLE))
     - CAST(sx AS DOUBLE) / CAST(nn AS DOUBLE))
    / sqrt(CAST(CAST(nn AS HUGEINT) * sxx - sx * sx AS DOUBLE)
           / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))) AS z
  FROM seg JOIN mo ON seg.user_id = mo.user_id
), sym AS (
  SELECT user_id, seg,
    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
         WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS s
  FROM z
)
SELECT sym.user_id AS entity_id, mo.nn AS n_obs,
  string_agg(s, '' ORDER BY seg) AS sax
FROM sym JOIN mo ON sym.user_id = mo.user_id
GROUP BY sym.user_id, mo.nn
"""

QUERIES["sax_symbols"] = q_sax_symbols
_RAW_ORACLES["sax_symbols"] = SQL_SAX_SYMBOLS


def q_holt_trend(spark, sf_dir):
    """Holt level+trend smoothing per entity (operators/windows.py
    holt_trend): sequential struct fold over the ts-sorted cents
    array — Spark aggregate vs DuckDB list_reduce with the level
    expression inlined verbatim in the trend update on both engines."""
    from mpds_spark.operators.windows import holt_trend

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "value"
    )
    out = holt_trend(ev, value="value", ts="ts", by="entity_id")
    return out.select(
        "entity_id", "n_events",
        _r6("level").alias("level"),
        _r6("trend").alias("trend"),
        _r6("forecast_1").alias("forecast_1"),
    )


SQL_HOLT_TREND = """
WITH e AS (
  SELECT user_id, ts,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events
), g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    list(CAST(c AS DOUBLE) ORDER BY ts) AS vs
  FROM e GROUP BY user_id
), f AS (
  -- list (not struct) accumulator: DuckDB 1.0 list_reduce evaluates
  -- struct-result lambdas FIELD-SEQUENTIALLY, rebinding acc.<field> to
  -- the just-computed value inside later fields; list results build
  -- atomically, matching Spark's named_struct fold
  SELECT user_id, n_events,
    list_reduce(
      list_transform(vs, v -> [v, 0.0::DOUBLE]),
      (acc, x) -> [
        0.25::DOUBLE * x[1] + 0.75::DOUBLE * (acc[1] + acc[2]),
        0.125::DOUBLE * ((0.25::DOUBLE * x[1]
              + 0.75::DOUBLE * (acc[1] + acc[2])) - acc[1])
             + 0.875::DOUBLE * acc[2]]) AS st
  FROM g
)
SELECT user_id AS entity_id, n_events,
  round(st[1] / 100.0, 6) AS level,
  round(st[2] / 100.0, 6) AS trend,
  round((st[1] + st[2]) / 100.0, 6) AS forecast_1
FROM f
"""

QUERIES["holt_trend"] = q_holt_trend
_RAW_ORACLES["holt_trend"] = SQL_HOLT_TREND


def q_ivm_merge_audit(spark, sf_dir):
    """Incremental-view-maintenance merge audit: the mergeable-aggregate
    contract (count/sum/min/max compose; avg re-derives from merged
    sum/count) that makes incremental pipelines, AQE partial aggs and
    checkpoint-resume correct. Events split base/delta at the exact
    corpus midpoint (1-row broadcast, registered BNLJ-by-design); the
    merged path must equal the full recompute cell-for-cell — the
    audit reports both so the oracle gate PROVES the merge."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
        (
            F.signum("value")
            * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    b = ev.agg(F.min("__us").alias("__mn"), F.max("__us").alias("__mx"))
    ev = ev.crossJoin(F.broadcast(b)).withColumn(
        "__base", F.expr("__us <= __mn + (__mx - __mn) div 2")
    )

    def leg(pred):
        return [
            F.sum(F.when(pred, 1).otherwise(0)).cast("long"),
            F.sum(F.when(pred, F.col("__c")).otherwise(0)).cast("long"),
            F.min(F.when(pred, F.col("__c"))).cast("long"),
            F.max(F.when(pred, F.col("__c"))).cast("long"),
        ]

    base = leg(F.col("__base"))
    delta = leg(~F.col("__base"))
    full = leg(F.lit(True))
    g = ev.groupBy("event_type").agg(
        base[0].alias("__bn"), base[1].alias("__bs"),
        base[2].alias("__bmin"), base[3].alias("__bmax"),
        delta[0].alias("__dn"), delta[1].alias("__ds"),
        delta[2].alias("__dmin"), delta[3].alias("__dmax"),
        full[0].alias("n_full"), full[1].alias("__fs"),
        full[2].alias("__fmin"), full[3].alias("__fmax"),
    )
    n_m = (F.col("__bn") + F.col("__dn")).cast("long")
    s_m = (F.col("__bs") + F.col("__ds")).cast("long")
    min_m = F.least(
        F.coalesce("__bmin", "__dmin"), F.coalesce("__dmin", "__bmin")
    ).cast("long")
    max_m = F.greatest(
        F.coalesce("__bmax", "__dmax"), F.coalesce("__dmax", "__bmax")
    ).cast("long")
    return g.select(
        "event_type",
        "n_full",
        n_m.alias("n_merged"),
        F.col("__fs").alias("sum_full_c"),
        s_m.alias("sum_merged_c"),
        F.col("__fmin").alias("min_full_c"),
        min_m.alias("min_merged_c"),
        F.col("__fmax").alias("max_full_c"),
        max_m.alias("max_merged_c"),
        _r6(F.col("__fs").cast("double") / F.col("n_full").cast("double"))
        .alias("avg_full"),
        _r6(s_m.cast("double") / n_m.cast("double")).alias("avg_merged"),
        (
            (F.col("n_full") == n_m) & (F.col("__fs") == s_m)
            & (F.col("__fmin") == min_m) & (F.col("__fmax") == max_m)
        ).alias("merge_ok"),
    )


SQL_IVM_MERGE = """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events
), b AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
t AS (
  SELECT event_type, c,
    us <= (SELECT mn + (mx - mn) // 2 FROM b) AS is_base
  FROM e
), g AS (
  SELECT event_type,
    CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS bn,
    CAST(sum(CASE WHEN is_base THEN c ELSE 0 END) AS BIGINT) AS bs,
    CAST(min(CASE WHEN is_base THEN c END) AS BIGINT) AS bmin,
    CAST(max(CASE WHEN is_base THEN c END) AS BIGINT) AS bmax,
    CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS dn,
    CAST(sum(CASE WHEN is_base THEN 0 ELSE c END) AS BIGINT) AS ds,
    CAST(min(CASE WHEN NOT is_base THEN c END) AS BIGINT) AS dmin,
    CAST(max(CASE WHEN NOT is_base THEN c END) AS BIGINT) AS dmax,
    CAST(count(*) AS BIGINT) AS n_full,
    CAST(sum(c) AS BIGINT) AS fs,
    CAST(min(c) AS BIGINT) AS fmin,
    CAST(max(c) AS BIGINT) AS fmax
  FROM t GROUP BY event_type
)
SELECT event_type, n_full,
  CAST(bn + dn AS BIGINT) AS n_merged,
  fs AS sum_full_c,
  CAST(bs + ds AS BIGINT) AS sum_merged_c,
  fmin AS min_full_c,
  CAST(least(coalesce(bmin, dmin), coalesce(dmin, bmin)) AS BIGINT)
    AS min_merged_c,
  fmax AS max_full_c,
  CAST(greatest(coalesce(bmax, dmax), coalesce(dmax, bmax)) AS BIGINT)
    AS max_merged_c,
  round(CAST(fs AS DOUBLE) / CAST(n_full AS DOUBLE), 6) AS avg_full,
  round(CAST(bs + ds AS DOUBLE) / CAST(bn + dn AS DOUBLE), 6)
    AS avg_merged,
  (n_full = bn + dn AND fs = bs + ds
   AND fmin = least(coalesce(bmin, dmin), coalesce(dmin, bmin))
   AND fmax = greatest(coalesce(bmax, dmax), coalesce(dmax, bmax)))
    AS merge_ok
FROM g
"""

QUERIES["ivm_merge_audit"] = q_ivm_merge_audit
_RAW_ORACLES["ivm_merge_audit"] = SQL_IVM_MERGE


def q_mase_eval(spark, sf_dir):
    """Forecast backtest per entity: MAE of the naive lag-1 forecast,
    MAE of the lag-7 'seasonal' forecast, and MASE = seasonal/naive
    (Hyndman & Koehler 2006 — the scale-free forecast-accuracy metric;
    values below 1 mean the weekly-period model beats persistence).
    Exact integer |error| sums on ONE entity-keyed exchange; two
    divisions + one ratio at the end."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts"),
        (
            F.signum("value")
            * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    w = Window.partitionBy("entity_id").orderBy("ts")
    d = ev.select(
        "entity_id",
        F.abs(F.col("__c") - F.lag("__c", 1).over(w)).alias("__e1"),
        F.abs(F.col("__c") - F.lag("__c", 7).over(w)).alias("__e7"),
    )
    g = d.groupBy("entity_id").agg(
        F.count("__e1").cast("long").alias("n_naive"),
        F.sum("__e1").cast("long").alias("__s1"),
        F.count("__e7").cast("long").alias("n_seasonal"),
        F.sum("__e7").cast("long").alias("__s7"),
    ).filter(F.col("n_seasonal") > 0)
    mae1 = F.col("__s1").cast("double") / F.col("n_naive").cast("double")
    mae7 = (
        F.col("__s7").cast("double") / F.col("n_seasonal").cast("double")
    )
    return g.select(
        "entity_id", "n_naive", "n_seasonal",
        _r6(mae1 / F.lit(100.0)).alias("mae_naive"),
        _r6(mae7 / F.lit(100.0)).alias("mae_lag7"),
        _r6(mae7 / mae1).alias("mase_lag7"),
    )


SQL_MASE_EVAL = """
WITH e AS (
  SELECT user_id, ts,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events
), d AS (
  SELECT user_id,
    abs(c - lag(c, 1) OVER w) AS e1,
    abs(c - lag(c, 7) OVER w) AS e7
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT user_id,
    CAST(count(e1) AS BIGINT) AS n_naive,
    CAST(sum(e1) AS BIGINT) AS s1,
    CAST(count(e7) AS BIGINT) AS n_seasonal,
    CAST(sum(e7) AS BIGINT) AS s7
  FROM d GROUP BY user_id
)
SELECT user_id AS entity_id, n_naive, n_seasonal,
  round(CAST(s1 AS DOUBLE) / CAST(n_naive AS DOUBLE) / 100.0, 6)
    AS mae_naive,
  round(CAST(s7 AS DOUBLE) / CAST(n_seasonal AS DOUBLE) / 100.0, 6)
    AS mae_lag7,
  round((CAST(s7 AS DOUBLE) / CAST(n_seasonal AS DOUBLE))
        / (CAST(s1 AS DOUBLE) / CAST(n_naive AS DOUBLE)), 6)
    AS mase_lag7
FROM g WHERE n_seasonal > 0
"""

QUERIES["mase_eval"] = q_mase_eval
_RAW_ORACLES["mase_eval"] = SQL_MASE_EVAL


def q_simpson_audit(spark, sf_dir):
    """Simpson's-paradox audit over lineitem: the discounted→returned
    association P(R|disc) - P(R|full), pooled vs within each
    linestatus stratum, with the per-stratum sign-flip flag — the
    pooled-vs-stratified sanity check every observational metric read
    needs. All cells exact longs; every probability ONE division."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("stratum"),
        (F.col("l_discount") >= 0.05).alias("__x"),
        (F.col("l_returnflag") == "R").alias("__y"),
    )
    cells = [
        F.sum(F.when(F.col("__x") & F.col("__y"), 1).otherwise(0))
        .cast("long").alias("__xy"),
        F.sum(F.when(F.col("__x") & ~F.col("__y"), 1).otherwise(0))
        .cast("long").alias("__xn"),
        F.sum(F.when(~F.col("__x") & F.col("__y"), 1).otherwise(0))
        .cast("long").alias("__ny"),
        F.sum(F.when(~F.col("__x") & ~F.col("__y"), 1).otherwise(0))
        .cast("long").alias("__nn"),
    ]
    g = li.groupBy("stratum").agg(*cells)
    pooled = li.agg(*cells)

    def diff(pre=""):
        px = F.col(f"{pre}__xy").cast("double") / (
            F.col(f"{pre}__xy") + F.col(f"{pre}__xn")
        ).cast("double")
        pn = F.col(f"{pre}__ny").cast("double") / (
            F.col(f"{pre}__ny") + F.col(f"{pre}__nn")
        ).cast("double")
        return px, pn, px - pn

    px, pn, d = diff()
    pooled = pooled.select(
        F.col("__xy").alias("p__xy"), F.col("__xn").alias("p__xn"),
        F.col("__ny").alias("p__ny"), F.col("__nn").alias("p__nn"),
    )
    j = g.crossJoin(F.broadcast(pooled))
    ppx = F.col("p__xy").cast("double") / (
        F.col("p__xy") + F.col("p__xn")
    ).cast("double")
    ppn = F.col("p__ny").cast("double") / (
        F.col("p__ny") + F.col("p__nn")
    ).cast("double")
    pd = ppx - ppn
    return j.select(
        "stratum",
        (F.col("__xy") + F.col("__xn") + F.col("__ny") + F.col("__nn"))
        .cast("long").alias("n"),
        _r6(px).alias("p_ret_disc"),
        _r6(pn).alias("p_ret_full"),
        _r6(d).alias("diff"),
        _r6(pd).alias("pooled_diff"),
        (F.signum(d) != F.signum(pd)).alias("sign_flipped"),
    )


SQL_SIMPSON_AUDIT = """
WITH li AS (
  SELECT l_linestatus AS stratum,
    l_discount >= 0.05 AS x, l_returnflag = 'R' AS y
  FROM lineitem
), g AS (
  SELECT stratum,
    CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS xy,
    CAST(sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS xn,
    CAST(sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT) AS ny,
    CAST(sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
      AS nn
  FROM li GROUP BY stratum
), p AS (
  SELECT CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS xy,
    CAST(sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS xn,
    CAST(sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT) AS ny,
    CAST(sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
      AS nn
  FROM li
)
SELECT g.stratum,
  CAST(g.xy + g.xn + g.ny + g.nn AS BIGINT) AS n,
  round(CAST(g.xy AS DOUBLE) / CAST(g.xy + g.xn AS DOUBLE), 6)
    AS p_ret_disc,
  round(CAST(g.ny AS DOUBLE) / CAST(g.ny + g.nn AS DOUBLE), 6)
    AS p_ret_full,
  round(CAST(g.xy AS DOUBLE) / CAST(g.xy + g.xn AS DOUBLE)
        - CAST(g.ny AS DOUBLE) / CAST(g.ny + g.nn AS DOUBLE), 6)
    AS diff,
  round(CAST(p.xy AS DOUBLE) / CAST(p.xy + p.xn AS DOUBLE)
        - CAST(p.ny AS DOUBLE) / CAST(p.ny + p.nn AS DOUBLE), 6)
    AS pooled_diff,
  sign(CAST(g.xy AS DOUBLE) / CAST(g.xy + g.xn AS DOUBLE)
       - CAST(g.ny AS DOUBLE) / CAST(g.ny + g.nn AS DOUBLE))
    <> sign(CAST(p.xy AS DOUBLE) / CAST(p.xy + p.xn AS DOUBLE)
            - CAST(p.ny AS DOUBLE) / CAST(p.ny + p.nn AS DOUBLE))
    AS sign_flipped
FROM g, p
"""

QUERIES["simpson_audit"] = q_simpson_audit
_RAW_ORACLES["simpson_audit"] = SQL_SIMPSON_AUDIT


def q_pagerank_iter(spark, sf_dir):
    """Five synchronous PageRank sweeps over the co-order part graph
    (operators/graph.py pagerank, Brin & Page 1998): per-iteration
    rank-to-adjacency equi-join + source-sorted contribution fold so
    the float sum order is pinned; adjacency persisted once; the
    oracle unrolls the identical five iterations as CTEs."""
    from mpds_spark.operators.graph import co_occurrence_edges, pagerank

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 8 == 0
    )
    edges = co_occurrence_edges(
        li, basket="l_orderkey", item="l_partkey"
    )
    out = pagerank(edges, damping=0.85, n_iter=5)
    return out.select(
        F.col("node").alias("part_id"),
        "degree",
        _r6("pr").alias("pr"),
    )


def _pagerank_sql() -> str:
    head = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_partkey % 8 = 0 AND b.l_partkey % 8 = 0
), sym AS (
  SELECT a AS src, b AS dst FROM e
  UNION ALL SELECT b AS src, a AS dst FROM e
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
r0 AS (
  SELECT src AS node, 1.0::DOUBLE / CAST((SELECT n FROM nn) AS DOUBLE)
    AS pr
  FROM deg
)"""
    om = repr(1.0 - 0.85)  # Spark computes F.lit(1.0 - d): embed the
    # IDENTICAL double (0.15000000000000002), not the 0.15 literal
    step = """, r{k} AS (
  SELECT sym.dst AS node,
    {om}::DOUBLE / CAST((SELECT n FROM nn) AS DOUBLE)
    + 0.85::DOUBLE
      * list_sum(list(r{p}.pr / CAST(deg.deg AS DOUBLE)
                      ORDER BY sym.src)) AS pr
  FROM sym JOIN deg ON sym.src = deg.src
           JOIN r{p} ON r{p}.node = sym.src
  GROUP BY sym.dst
)"""
    tail = """
SELECT r5.node AS part_id, deg.deg AS degree, round(r5.pr, 6) AS pr
FROM r5 JOIN deg ON deg.src = r5.node
"""
    return head + "".join(
        step.format(k=i, p=i - 1, om=om) for i in range(1, 6)
    ) + tail


SQL_PAGERANK_ITER = _pagerank_sql()

QUERIES["pagerank_iter"] = q_pagerank_iter
_RAW_ORACLES["pagerank_iter"] = SQL_PAGERANK_ITER


def q_knn_eval(spark, sf_dir):
    """Leave-one-out 1-NN label accuracy over the embedding table — the
    standard intrinsic embedding-quality eval (does the space cluster
    by label?): exact cosine argmax per held-out vector against the
    FULL corpus (operators/similarity.py cosine_nn1_arrow — the
    vectorized Arrow twin of cosine_topk(k=1): bit-identical per-pair
    float sequence and tie-break-by-neighbor-id, r6 guide-§4.2 swap of
    the per-pair interpreted JVM fold), per-label accuracy from exact
    counts. The query side is a deterministic 1-in-4 id sample — the
    standard sampled-eval shape that keeps the quadratic Q x N scorer
    budget-bounded; the at-scale path swaps the exact scorer for the
    LSH/IVF variants beside it."""
    from mpds_spark.operators.similarity import cosine_nn1_arrow

    emb = load(spark, sf_dir, "embeddings")
    nn1 = cosine_nn1_arrow(emb, emb.filter(F.col("vec_id") % 4 == 0))
    lab = emb.select("vec_id", "label")
    j = (
        nn1.join(
            F.broadcast(lab.select(F.col("vec_id").alias("query_id"),
                                   F.col("label").alias("__ql"))),
            "query_id",
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("neighbor_id"),
                                   F.col("label").alias("__nl"))),
            "neighbor_id",
        )
    )
    g = j.groupBy(F.col("__ql").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("__ql") == F.col("__nl"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
    )
    return g.select(
        "label", "n", "n_correct",
        _r6(
            F.col("n_correct").cast("double") / F.col("n").cast("double")
        ).alias("accuracy"),
    )


SQL_KNN_EVAL = """
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT a.vec_id AS q, a.label AS ql, b.label AS nl,
    list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e))
      / sqrt(list_dot_product(b.e, b.e)) AS cos,
    b.vec_id AS nid
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
  WHERE a.vec_id % 4 = 0
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY q ORDER BY cos DESC, nid) AS rn
  FROM s
)
SELECT ql AS label, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN ql = nl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  round(CAST(sum(CASE WHEN ql = nl THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM r WHERE rn = 1
GROUP BY ql
"""

QUERIES["knn_eval"] = q_knn_eval
_RAW_ORACLES["knn_eval"] = SQL_KNN_EVAL


def q_window_funnel(spark, sf_dir):
    """ClickHouse-style strict-order funnel depth per user
    (operators/funnels.py window_funnel): deepest view->click->purchase
    chain with every step within 48h of the chain start, computed by an
    all-integer latest-start fold — the gate needs no rounding at all."""
    from mpds_spark.operators.funnels import window_funnel

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "event_type"
    )
    return window_funnel(
        ev, chain=("view", "click", "purchase"),
        window_us=48 * 3600 * 1000000,
    )


SQL_WINDOW_FUNNEL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t,
    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
         WHEN 'purchase' THEN 3 ELSE 0 END AS c
  FROM events
), g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    list_reduce(
      list_prepend([-1, -1, -1]::BIGINT[],
                   list([t, c, 0]::BIGINT[] ORDER BY t)),
      (acc, x) -> [
        CASE WHEN x[2] = 1 THEN greatest(acc[1], x[1]) ELSE acc[1] END,
        CASE WHEN x[2] = 2 AND acc[1] >= 0
                  AND x[1] - acc[1] <= 172800000000
             THEN greatest(acc[2], acc[1]) ELSE acc[2] END,
        CASE WHEN x[2] = 3 AND acc[2] >= 0
                  AND x[1] - acc[2] <= 172800000000
             THEN greatest(acc[3], acc[2]) ELSE acc[3] END]) AS s
  FROM e GROUP BY user_id
)
SELECT user_id AS entity_id, n_events,
  CAST(CASE WHEN s[3] >= 0 THEN 3 WHEN s[2] >= 0 THEN 2
            WHEN s[1] >= 0 THEN 1 ELSE 0 END AS BIGINT)
    AS funnel_depth
FROM g
"""

QUERIES["window_funnel"] = q_window_funnel
_RAW_ORACLES["window_funnel"] = SQL_WINDOW_FUNNEL


def q_burst_detect(spark, sf_dir):
    """Hysteresis burst segmentation per user (operators/windows.py
    burst_detect): bursts open at gaps <= 2h and close only at gaps
    >= 10h — the Schmitt-trigger rule single-threshold segmentation
    can't express; three-integer state fold, one final pct division."""
    from mpds_spark.operators.windows import burst_detect

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts"
    )
    out = burst_detect(
        ev, t_on_us=2 * 3600 * 1000000, t_off_us=10 * 3600 * 1000000
    )
    return out.select(
        "entity_id", "n_events", "n_bursts", "events_in_burst",
        _r6("burst_pct").alias("burst_pct"),
    )


SQL_BURST_DETECT = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t FROM events
), d AS (
  SELECT user_id, t,
    t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS gap
  FROM e
), g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    list_reduce(
      list_prepend([0, 0, 0]::BIGINT[],
                   list([gap, 0, 0]::BIGINT[] ORDER BY t)
                     FILTER (WHERE gap IS NOT NULL)),
      (acc, x) -> CASE
        WHEN acc[1] = 0 AND x[1] <= 7200000000
          THEN [1, acc[2] + 1, acc[3] + 2]::BIGINT[]
        WHEN acc[1] = 1 AND x[1] < 36000000000
          THEN [1, acc[2], acc[3] + 1]::BIGINT[]
        WHEN acc[1] = 1 THEN [0, acc[2], acc[3]]::BIGINT[]
        ELSE acc END) AS s
  FROM d GROUP BY user_id
)
SELECT user_id AS entity_id, n_events,
  s[2] AS n_bursts, s[3] AS events_in_burst,
  round(100.0 * CAST(s[3] AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
    AS burst_pct
FROM g
"""

QUERIES["burst_detect"] = q_burst_detect
_RAW_ORACLES["burst_detect"] = SQL_BURST_DETECT


def q_quant_recall(spark, sf_dir):
    """INT8 quantization recall@10 per sampled query
    (operators/similarity.py quantized_recall): exact integer-dot
    ranking of round(127*x/||x||) codes vs the exact float cosine
    top-10; deterministic corpus halving + 1-in-16 query sample bound the two
    registered brute legs."""
    from mpds_spark.operators.similarity import quantized_recall

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 2 == 0
    )
    out = quantized_recall(
        emb, emb.filter(F.col("vec_id") % 16 == 0), k=10
    )
    return out.select(
        "query_id", "n_overlap", _r6("recall").alias("recall")
    )


SQL_QUANT_RECALL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      AS n
  FROM embeddings WHERE vec_id % 2 = 0
), q8 AS (
  SELECT vec_id,
    list_transform(e, x -> CAST(floor(abs(127.0::DOUBLE * x / n)
        + 0.5) * sign(x) AS BIGINT)) AS q,
    e
  FROM v
), ex AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY a.vec_id ORDER BY
      list_dot_product(a.e, b.e)
        / sqrt(list_dot_product(a.e, a.e))
        / sqrt(list_dot_product(b.e, b.e)) DESC, b.vec_id) AS rn
  FROM q8 a JOIN q8 b ON a.vec_id <> b.vec_id
  WHERE a.vec_id % 16 = 0
), qt AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY a.vec_id ORDER BY
      CAST(list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) AS BIGINT)
        DESC, b.vec_id) AS rn
  FROM q8 a JOIN q8 b ON a.vec_id <> b.vec_id
  WHERE a.vec_id % 16 = 0
), ov AS (
  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM (SELECT query_id, neighbor_id FROM ex WHERE rn <= 10) e
  JOIN (SELECT query_id, neighbor_id FROM qt WHERE rn <= 10) t
    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
  GROUP BY e.query_id
), base AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS k
  FROM ex WHERE rn <= 10 GROUP BY query_id
)
SELECT base.query_id,
  coalesce(ov.n_overlap, 0) AS n_overlap,
  round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE)
        / CAST(base.k AS DOUBLE), 6) AS recall
FROM base LEFT JOIN ov ON base.query_id = ov.query_id
"""

QUERIES["quant_recall"] = q_quant_recall
_RAW_ORACLES["quant_recall"] = SQL_QUANT_RECALL


def q_consistent_hash_audit(spark, sf_dir):
    """Consistent-hash ring resize audit over customer keys
    (operators/validate.py consistent_hash_audit, Karger et al. 1997):
    8 nodes x 16 vnodes -> add one node; per-node before/after
    membership + gained/lost — the moved share must concentrate on the
    new node's arcs. All exact longs; rings are 1-row sorted-array
    broadcasts (registered)."""
    from mpds_spark.operators.validate import consistent_hash_audit

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    )
    return consistent_hash_audit(cust, key="key", n_nodes=8,
                                 n_virtual=16)


SQL_CONSISTENT_HASH = """
WITH vn AS (
  SELECT ('0x' || substring(md5('node' || CAST(i AS VARCHAR) || '|v'
          || CAST(j AS VARCHAR)), 1, 15))::UBIGINT::BIGINT AS h,
         'node' || CAST(i AS VARCHAR) AS node, i
  FROM (SELECT unnest(generate_series(0, 8)) AS i),
       (SELECT unnest(generate_series(0, 15)) AS j)
), keys AS (
  SELECT ('0x' || substring(md5('key|' || CAST(c_custkey AS VARCHAR)),
          1, 15))::UBIGINT::BIGINT AS hk
  FROM customer
), a AS (
  SELECT hk,
    coalesce(
      (SELECT min_by(node, h) FROM vn WHERE i < 8 AND h >= keys.hk),
      (SELECT min_by(node, h) FROM vn WHERE i < 8)) AS before,
    coalesce(
      (SELECT min_by(node, h) FROM vn WHERE h >= keys.hk),
      (SELECT min_by(node, h) FROM vn)) AS after
  FROM keys
), nodes AS (
  SELECT DISTINCT before AS node FROM a
  UNION SELECT DISTINCT after FROM a
)
SELECT nodes.node,
  coalesce(b.n_before, 0) AS n_before,
  coalesce(f.n_after, 0) AS n_after,
  coalesce(f.n_gained, 0) AS n_gained,
  coalesce(b.n_lost, 0) AS n_lost
FROM nodes
LEFT JOIN (
  SELECT before AS node, CAST(count(*) AS BIGINT) AS n_before,
    CAST(sum(CASE WHEN after <> before THEN 1 ELSE 0 END) AS BIGINT)
      AS n_lost
  FROM a GROUP BY before) b ON nodes.node = b.node
LEFT JOIN (
  SELECT after AS node, CAST(count(*) AS BIGINT) AS n_after,
    CAST(sum(CASE WHEN after <> before THEN 1 ELSE 0 END) AS BIGINT)
      AS n_gained
  FROM a GROUP BY after) f ON nodes.node = f.node
"""

QUERIES["consistent_hash_audit"] = q_consistent_hash_audit
_RAW_ORACLES["consistent_hash_audit"] = SQL_CONSISTENT_HASH


def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous LPA communities over the co-order part
    graph (operators/graph.py label_propagation, Raghavan et al. 2007
    with the randomized tie-break replaced by smallest-label): four
    sweeps, each ONE join + two hash aggs; the oracle unrolls the same
    four rounds with QUALIFY row_number argmax."""
    from mpds_spark.operators.graph import (
        co_occurrence_edges,
        label_propagation,
    )

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 8 == 0
    )
    edges = co_occurrence_edges(
        li, basket="l_orderkey", item="l_partkey"
    )
    out = label_propagation(edges, n_rounds=4)
    return out.select(F.col("node").alias("part_id"), "community")


def _lpa_sql() -> str:
    head = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_partkey % 8 = 0 AND b.l_partkey % 8 = 0
), sym AS (
  SELECT a AS src, b AS dst FROM e
  UNION ALL SELECT b AS src, a AS dst FROM e
), l0 AS (
  SELECT DISTINCT src AS node, src AS community FROM sym
)"""
    step = """, l{k} AS (
  SELECT dst AS node, community
  FROM (
    SELECT sym.dst, l{p}.community, count(*) AS c
    FROM sym JOIN l{p} ON l{p}.node = sym.src
    GROUP BY sym.dst, l{p}.community
  )
  QUALIFY row_number() OVER (
    PARTITION BY dst ORDER BY c DESC, community) = 1
)"""
    tail = """
SELECT node AS part_id, CAST(community AS BIGINT) AS community FROM l4
"""
    return head + "".join(
        step.format(k=i, p=i - 1) for i in range(1, 5)
    ) + tail


SQL_LABEL_PROPAGATION = _lpa_sql()

QUERIES["label_propagation"] = q_label_propagation
_RAW_ORACLES["label_propagation"] = SQL_LABEL_PROPAGATION


def q_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail (the first check every A/B
    readout runs): md5-parity 50/50 user assignment, exact arm counts,
    1-dof chi-square (o_a - o_b)^2 / n vs the 3.841 critical value.
    One agg over the distinct-user frame; everything exact until one
    division."""
    ev = _events(spark, sf_dir).select("user_id").distinct()
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("srm|"),
                               F.col("user_id").cast("string"))), 1, 1
            ), 16, 10
        ).cast("long") % 2
    )
    g = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(arm).cast("long").alias("n_b"),
    )
    chi2 = (
        ((F.col("n") - 2 * F.col("n_b"))
         * (F.col("n") - 2 * F.col("n_b"))).cast("double")
        / F.col("n").cast("double")
    )
    return g.select(
        "n",
        (F.col("n") - F.col("n_b")).cast("long").alias("n_a"),
        "n_b",
        _r6(chi2).alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm_flag"),
    )


SQL_SRM_CHECK = """
WITH u AS (SELECT DISTINCT user_id FROM events),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(('0x' || substring(md5('srm|' ||
        CAST(user_id AS VARCHAR)), 1, 1))::UBIGINT % 2) AS BIGINT)
      AS n_b
  FROM u
)
SELECT n, CAST(n - n_b AS BIGINT) AS n_a, n_b,
  round(CAST((n - 2*n_b) * (n - 2*n_b) AS DOUBLE)
        / CAST(n AS DOUBLE), 6) AS chi2,
  CAST((n - 2*n_b) * (n - 2*n_b) AS DOUBLE) / CAST(n AS DOUBLE)
    > 3.841 AS srm_flag
FROM g
"""

QUERIES["srm_check"] = q_srm_check
_RAW_ORACLES["srm_check"] = SQL_SRM_CHECK


def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset over embeddings (operators/similarity.py
    kcenter_coreset, Gonzalez 1985 / Sener & Savarese 2018): 8 maximally
    diverse exemplars by farthest-point traversal with id tie-breaks;
    bounded driver rounds (the sanctioned fit idiom); the oracle unrolls
    the same greedy rounds as CTEs."""
    from mpds_spark.operators.similarity import kcenter_coreset

    emb = load(spark, sf_dir, "embeddings")
    out = kcenter_coreset(emb, k=8)
    return out.select(
        "round", "vec_id", _r6("dist_to_chosen").alias("dist_to_chosen")
    )


def _kcenter_sql(k: int = 8) -> str:
    head = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      AS n
  FROM embeddings
), sel0 AS (
  SELECT 0 AS round, min(vec_id) AS vec_id,
         CAST(NULL AS DOUBLE) AS d
  FROM v
)"""
    step = """, p{r} AS (
  SELECT {r} AS round, vec_id, d FROM (
    SELECT a.vec_id,
      min(1.0 - list_dot_product(a.e, c.e) / a.n / c.n) AS d
    FROM v a, v c
    WHERE c.vec_id IN (SELECT vec_id FROM sel{p})
      AND a.vec_id NOT IN (SELECT vec_id FROM sel{p})
    GROUP BY a.vec_id
  ) QUALIFY row_number() OVER (ORDER BY d DESC, vec_id) = 1
), sel{r} AS (
  SELECT * FROM sel{p} UNION ALL SELECT * FROM p{r}
)"""
    tail = f"""
SELECT CAST(round AS BIGINT) AS round, vec_id,
  round(d, 6) AS dist_to_chosen
FROM sel{k - 1}
"""
    return head + "".join(
        step.format(r=i, p=i - 1) for i in range(1, k)
    ) + tail


SQL_KCENTER_CORESET = _kcenter_sql(8)

QUERIES["kcenter_coreset"] = q_kcenter_coreset
_RAW_ORACLES["kcenter_coreset"] = SQL_KCENTER_CORESET


def q_trimmed_mean(spark, sf_dir):
    """10%-trimmed vs raw mean order value per priority — the robust
    location estimate beside the exact grouped quantiles: rank by
    (cents, orderkey) per group, drop floor(n/10) from each tail,
    exact integer sums, one division each."""
    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        (
            F.signum("o_totalprice")
            * F.floor(F.abs(F.col("o_totalprice")) * 100 + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    w = Window.partitionBy("priority").orderBy("__c", "o_orderkey")
    wn = Window.partitionBy("priority")
    d = od.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(wn)
    )
    cut = F.floor(F.col("__n") / 10).cast("long")
    kept = (F.col("__rn") > cut) & (F.col("__rn") <= F.col("__n") - cut)
    g = d.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__c").cast("long").alias("__s_all"),
        F.sum(F.when(kept, F.col("__c")).otherwise(0)).cast("long")
        .alias("__s_kept"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
    )
    return g.select(
        "priority", "n", "n_kept",
        _r6(
            F.col("__s_all").cast("double")
            / F.col("n").cast("double") / F.lit(100.0)
        ).alias("mean_raw"),
        _r6(
            F.col("__s_kept").cast("double")
            / F.col("n_kept").cast("double") / F.lit(100.0)
        ).alias("mean_trimmed"),
    )


SQL_TRIMMED_MEAN = """
WITH o AS (
  SELECT o_orderpriority AS priority, o_orderkey,
    CAST(floor(abs(o_totalprice)*100 + 0.5)*sign(o_totalprice)
         AS BIGINT) AS c
  FROM orders
), d AS (
  SELECT priority, c,
    row_number() OVER (PARTITION BY priority ORDER BY c, o_orderkey)
      AS rn,
    count(*) OVER (PARTITION BY priority) AS n
  FROM o
), g AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(c) AS BIGINT) AS s_all,
    CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
             THEN c ELSE 0 END) AS BIGINT) AS s_kept,
    CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM d GROUP BY priority
)
SELECT priority, n, n_kept,
  round(CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
    AS mean_raw,
  round(CAST(s_kept AS DOUBLE) / CAST(n_kept AS DOUBLE) / 100.0, 6)
    AS mean_trimmed
FROM g
"""

QUERIES["trimmed_mean"] = q_trimmed_mean
_RAW_ORACLES["trimmed_mean"] = SQL_TRIMMED_MEAN


def q_source_digest(spark, sf_dir):
    """Per-source content digest — the reproducibility audit a staged
    pipeline runs to prove a rewrite/resume produced byte-identical
    data: md5 row hashes over canonicalized fields, then one md5 over
    the row-hash-sorted concatenation per source. Order-insensitive by
    construction (the sort pins it), partition-count-invariant. At
    10^12 rows the concat becomes a Merkle tree over per-partition
    digests; the per-source array is the catalog-scale shape."""
    docs = load(spark, sf_dir, "documents")
    rh = docs.select(
        "source",
        F.md5(
            F.concat_ws(
                "\x1f",
                F.col("doc_id").cast("string"),
                F.col("text"),
                F.col("lang"),
                F.col("n_chars").cast("string"),
            )
        ).alias("__h"),
    )
    return rh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list("__h")), "")
        ).alias("digest"),
    )


SQL_SOURCE_DIGEST = """
WITH rh AS (
  SELECT source,
    md5(CAST(doc_id AS VARCHAR) || chr(31) || text || chr(31)
        || lang || chr(31) || CAST(n_chars AS VARCHAR)) AS h
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
  md5(string_agg(h, '' ORDER BY h)) AS digest
FROM rh GROUP BY source
"""

QUERIES["source_digest"] = q_source_digest
_RAW_ORACLES["source_digest"] = SQL_SOURCE_DIGEST


def q_lpt_partition_plan(spark, sf_dir):
    """Skew-aware partition planning via Graham's LPT greedy (1969,
    4/3-approximation): assign per-user row counts, LARGEST FIRST, to
    the least-loaded of 4 target partitions (ties to the lowest slot) —
    the planner behind salting decisions: the output's makespan ratio
    says whether key-hash assignment needs rebalancing. Entirely
    integer: counts exact, the fold carries 4 long loads, the only
    float is the final load-share division."""
    ev = _events(spark, sf_dir).select("user_id")
    cnt = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    g = cnt.agg(
        F.expr(
            # fold (count desc, user asc): sort by (-count, user)
            "aggregate(array_sort(collect_list("
            "struct(-__c as nc, user_id as u, __c as c))), "
            "array(0L, 0L, 0L, 0L), (acc, x) -> CASE "
            "WHEN acc[0] <= acc[1] AND acc[0] <= acc[2] "
            "AND acc[0] <= acc[3] "
            "THEN array(acc[0] + x.c, acc[1], acc[2], acc[3]) "
            "WHEN acc[1] <= acc[2] AND acc[1] <= acc[3] "
            "THEN array(acc[0], acc[1] + x.c, acc[2], acc[3]) "
            "WHEN acc[2] <= acc[3] "
            "THEN array(acc[0], acc[1], acc[2] + x.c, acc[3]) "
            "ELSE array(acc[0], acc[1], acc[2], acc[3] + x.c) END)"
        ).alias("__l"),
        F.sum("__c").cast("long").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__nk"),
    )
    e = g.select(
        "__total", "__nk",
        F.posexplode("__l").alias("partition", "load"),
    )
    return e.select(
        F.col("partition").cast("long").alias("partition"),
        F.col("load").cast("long").alias("load"),
        F.col("__nk").alias("n_keys_total"),
        _r6(
            F.col("load").cast("double")
            / (F.col("__total").cast("double") / F.lit(4.0))
        ).alias("balance_ratio"),
    )


SQL_LPT_PLAN = """
WITH cnt AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
), g AS (
  SELECT
    list_reduce(
      list_prepend([0, 0, 0, 0]::BIGINT[],
        list([c, 0, 0, 0]::BIGINT[] ORDER BY c DESC, user_id)),
      (acc, x) -> CASE
        WHEN acc[1] <= acc[2] AND acc[1] <= acc[3] AND acc[1] <= acc[4]
          THEN [acc[1] + x[1], acc[2], acc[3], acc[4]]::BIGINT[]
        WHEN acc[2] <= acc[3] AND acc[2] <= acc[4]
          THEN [acc[1], acc[2] + x[1], acc[3], acc[4]]::BIGINT[]
        WHEN acc[3] <= acc[4]
          THEN [acc[1], acc[2], acc[3] + x[1], acc[4]]::BIGINT[]
        ELSE [acc[1], acc[2], acc[3], acc[4] + x[1]]::BIGINT[]
        END) AS l,
    CAST(sum(c) AS BIGINT) AS total,
    CAST(count(*) AS BIGINT) AS nk
  FROM cnt
)
SELECT CAST(i - 1 AS BIGINT) AS partition,
  l[i] AS load, nk AS n_keys_total,
  round(CAST(l[i] AS DOUBLE) / (CAST(total AS DOUBLE) / 4.0), 6)
    AS balance_ratio
FROM g, (SELECT unnest(generate_series(1, 4)) AS i)
"""

QUERIES["lpt_partition_plan"] = q_lpt_partition_plan
_RAW_ORACLES["lpt_partition_plan"] = SQL_LPT_PLAN


def q_rate_shrinkage(spark, sf_dir):
    """Smoothed purchase-rate league table: per-user purchase share
    shrunk toward the pooled rate with prior strength m=20
    (additive/Dirichlet smoothing — the small-n ranking fix: a 2/2
    user must NOT out-rank a 95/100 one). Exact integer counts; the
    pooled rate is a registered 1-row broadcast; raw and shrunk rates
    are one division each."""
    ev = _events(spark, sf_dir).select(
        "user_id", (F.col("event_type") == "purchase").alias("__p")
    )
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("__p"), 1).otherwise(0)).cast("long")
        .alias("k"),
    )
    tot = u.agg(
        F.sum("n").cast("long").alias("__tn"),
        F.sum("k").cast("long").alias("__tk"),
    )
    j = u.crossJoin(F.broadcast(tot))
    p0 = F.col("__tk").cast("double") / F.col("__tn").cast("double")
    shrunk = (
        (F.col("k").cast("double") + F.lit(20.0) * p0)
        / (F.col("n").cast("double") + F.lit(20.0))
    )
    return j.select(
        "user_id", "n", "k",
        _r6(F.col("k").cast("double") / F.col("n").cast("double"))
        .alias("rate_raw"),
        _r6(shrunk).alias("rate_shrunk"),
    )


SQL_RATE_SHRINKAGE = """
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS k
  FROM events GROUP BY user_id
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(k) AS BIGINT) AS tk
  FROM u
)
SELECT user_id, n, k,
  round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate_raw,
  round((CAST(k AS DOUBLE)
         + 20.0 * (CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE)))
        / (CAST(n AS DOUBLE) + 20.0), 6) AS rate_shrunk
FROM u, t
"""

QUERIES["rate_shrinkage"] = q_rate_shrinkage
_RAW_ORACLES["rate_shrinkage"] = SQL_RATE_SHRINKAGE


def q_merkle_diff(spark, sf_dir):
    """Block-level Merkle diff between two snapshots — the incremental
    sync/verify primitive (rsync, snapshot deep-clone verification):
    rows bucket into doc_id-range blocks of 64, each side digests each
    block (md5 over row-hash-sorted concat), and ONLY differing blocks
    surface. v2 is a deterministic in-query simulation of drift:
    doc_id % 97 == 0 rows edited, doc_id % 101 == 0 rows deleted —
    self-contained, no second table needed. At 10^12 rows the block
    digests ARE the Merkle leaves: comparing snapshots touches
    O(changed blocks), not O(rows)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    v2 = docs.filter(F.col("doc_id") % 101 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 97 == 0, F.concat(F.col("text"), F.lit("!"))
        ).otherwise(F.col("text")).alias("text"),
        "lang", "n_chars",
    )

    def blocks(df, side):
        rh = df.select(
            (F.col("doc_id") / 64).cast("long").alias("block"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("doc_id").cast("string"), "text", "lang",
                    F.col("n_chars").cast("string"),
                )
            ).alias("__h"),
        )
        return rh.groupBy("block").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{side}"),
            F.md5(
                F.array_join(F.array_sort(F.collect_list("__h")), "")
            ).alias(f"d_{side}"),
        )

    j = blocks(docs, "v1").join(blocks(v2, "v2"), "block", "full")
    changed = j.filter(
        F.col("d_v1").isNull() | F.col("d_v2").isNull()
        | (F.col("d_v1") != F.col("d_v2"))
    )
    z = F.lit(0).cast("long")
    return changed.select(
        "block",
        F.coalesce("n_v1", z).alias("n_v1"),
        F.coalesce("n_v2", z).alias("n_v2"),
    )


SQL_MERKLE_DIFF = """
WITH v1 AS (
  SELECT doc_id, text, lang, n_chars FROM documents
), v2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 0 THEN text || '!' ELSE text END AS text,
    lang, n_chars
  FROM documents WHERE doc_id % 101 <> 0
), b1 AS (
  SELECT doc_id // 64 AS block, CAST(count(*) AS BIGINT) AS n_v1,
    md5(string_agg(h, '' ORDER BY h)) AS d_v1
  FROM (SELECT doc_id,
          md5(CAST(doc_id AS VARCHAR) || chr(31) || text || chr(31)
              || lang || chr(31) || CAST(n_chars AS VARCHAR)) AS h
        FROM v1)
  GROUP BY doc_id // 64
), b2 AS (
  SELECT doc_id // 64 AS block, CAST(count(*) AS BIGINT) AS n_v2,
    md5(string_agg(h, '' ORDER BY h)) AS d_v2
  FROM (SELECT doc_id,
          md5(CAST(doc_id AS VARCHAR) || chr(31) || text || chr(31)
              || lang || chr(31) || CAST(n_chars AS VARCHAR)) AS h
        FROM v2)
  GROUP BY doc_id // 64
)
SELECT coalesce(b1.block, b2.block) AS block,
  coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2
FROM b1 FULL OUTER JOIN b2 ON b1.block = b2.block
WHERE d_v1 IS NULL OR d_v2 IS NULL OR d_v1 <> d_v2
"""

QUERIES["merkle_diff"] = q_merkle_diff
_RAW_ORACLES["merkle_diff"] = SQL_MERKLE_DIFF


def q_jackknife_ratio(spark, sf_dir):
    """Delete-a-group jackknife standard error (Efron 1982; Kott 2001
    for the grouped variant) of the average order value — the
    resampling-free CI machinery for RATIO statistics, where naive
    per-row variance is simply wrong: G=20 md5-hash groups, leave-out
    ratios r_g = (Sa - a_g)/(Sb - b_g) from exact integer group
    totals, SE = sqrt((G-1)/G * sum (r_g - rbar)^2) with both folds
    order-pinned over the group-sorted array."""
    od = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.signum("o_totalprice")
            * F.floor(F.abs(F.col("o_totalprice")) * 100 + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    grp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("jk|"),
                               F.col("o_orderkey").cast("string"))),
                1, 15,
            ), 16, 10,
        ).cast("long") % 20
    )
    g = od.groupBy(grp.alias("__g")).agg(
        F.sum("__c").cast("long").alias("__a"),
        F.count(F.lit(1)).cast("long").alias("__b"),
    )
    agg = g.agg(
        F.sum("__a").cast("long").alias("__sa"),
        F.sum("__b").cast("long").alias("__sb"),
        F.count(F.lit(1)).cast("long").alias("__gn"),
        F.array_sort(
            F.collect_list(F.struct("__g", "__a", "__b"))
        ).alias("__arr"),
    )
    # leave-out ratios in group order, then two order-pinned folds
    rs = F.expr(
        "transform(__arr, x -> "
        "cast(__sa - x.__a as double) / cast(__sb - x.__b as double))"
    )
    agg = agg.withColumn("__rs", rs)
    rbar = F.expr(
        "aggregate(__rs, 0.0D, (acc, r) -> acc + r)"
    ) / F.col("__gn").cast("double")
    agg = agg.withColumn("__rbar", rbar)
    ss = F.expr(
        "aggregate(__rs, 0.0D, (acc, r) -> "
        "acc + (r - __rbar) * (r - __rbar))"
    )
    ratio = F.col("__sa").cast("double") / F.col("__sb").cast("double")
    se = F.sqrt(
        (F.col("__gn") - 1).cast("double")
        / F.col("__gn").cast("double") * ss
    )
    return agg.select(
        F.col("__gn").alias("n_groups"),
        F.col("__sb").alias("n_orders"),
        _r6(ratio / F.lit(100.0)).alias("avg_order_value"),
        _r6(se / F.lit(100.0)).alias("jackknife_se"),
    )


SQL_JACKKNIFE_RATIO = """
WITH o AS (
  SELECT o_orderkey,
    CAST(floor(abs(o_totalprice)*100 + 0.5)*sign(o_totalprice)
         AS BIGINT) AS c,
    CAST(('0x' || substring(md5('jk|' || CAST(o_orderkey AS VARCHAR)),
          1, 15))::UBIGINT % 20 AS BIGINT) AS g
  FROM orders
), gr AS (
  SELECT g, CAST(sum(c) AS BIGINT) AS a, CAST(count(*) AS BIGINT) AS b
  FROM o GROUP BY g
), t AS (
  SELECT CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
    CAST(count(*) AS BIGINT) AS gn
  FROM gr
), rs AS (
  SELECT gn, sa, sb,
    list(CAST(sa - a AS DOUBLE) / CAST(sb - b AS DOUBLE) ORDER BY g)
      AS r
  FROM gr, t GROUP BY gn, sa, sb
), m AS (
  SELECT gn, sa, sb, r,
    list_sum(r) / CAST(gn AS DOUBLE) AS rbar
  FROM rs
)
SELECT gn AS n_groups, sb AS n_orders,
  round(CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE) / 100.0, 6)
    AS avg_order_value,
  round(sqrt(CAST(gn - 1 AS DOUBLE) / CAST(gn AS DOUBLE)
        * list_sum(list_transform(r,
            x -> (x - rbar) * (x - rbar)))) / 100.0, 6)
    AS jackknife_se
FROM m
"""

QUERIES["jackknife_ratio"] = q_jackknife_ratio
_RAW_ORACLES["jackknife_ratio"] = SQL_JACKKNIFE_RATIO


def q_rank_auc(spark, sf_dir):
    """ROC AUC + Mann-Whitney U from tie-corrected rank sums — the
    eval staple computed WITHOUT a global per-row sort: the classifier
    here is "does event value predict a purchase event". AUC is the
    rank-sum formula AUC = (R+ - n1(n1+1)/2)/(n1*n0) on DOUBLED
    average ranks (r2 = 2*cum_before + cnt + 1 over the distinct-value
    frame, the spearman_rank machinery), so every moment up to the two
    final divisions is an exact integer: U, the tie-corrected variance
    term sum(t^3 - t), and the normal-approximation z are all derived
    from one distinct-cents aggregate + one window over that tiny
    frame. Zero unordered float reductions anywhere — the gate is
    exact by construction, not by rounding luck."""
    ev = _events(spark, sf_dir).select(
        (
            F.signum("value") * F.floor(F.abs(F.col("value")) * 100
                                        + F.lit(0.5))
        ).cast("long").alias("__c"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("__p"),
    )
    v = ev.groupBy("__c").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        F.sum("__p").cast("long").alias("__pc"),
    )
    w = Window.orderBy("__c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r2 = (
        2 * F.coalesce(F.sum("__cnt").over(w), F.lit(0).cast("long"))
        + F.col("__cnt") + 1
    )
    a = v.select(
        (F.col("__pc") * r2).alias("__pr2"),
        "__cnt", "__pc",
        (F.col("__cnt") * F.col("__cnt") * F.col("__cnt")
         - F.col("__cnt")).alias("__t3"),
    ).agg(
        F.sum("__pr2").cast("long").alias("__s2"),
        F.sum("__cnt").cast("long").alias("__n"),
        F.sum("__pc").cast("long").alias("__n1"),
        F.sum("__t3").cast("long").alias("__tt"),
    )
    n0 = F.col("__n") - F.col("__n1")
    u2 = F.col("__s2") - F.col("__n1") * (F.col("__n1") + 1)
    auc = u2.cast("double") / (2 * F.col("__n1") * n0).cast("double")
    varu = (
        (F.col("__n1") * n0).cast("double")
        * (
            (F.col("__n") + 1).cast("double")
            - F.col("__tt").cast("double")
            / (F.col("__n") * (F.col("__n") - 1)).cast("double")
        )
        / F.lit(12.0)
    )
    z = (
        (u2 - F.col("__n1") * n0).cast("double")
        / (F.lit(2.0) * F.sqrt(varu))
    )
    return a.select(
        F.col("__n1").alias("n_pos"),
        n0.alias("n_neg"),
        (u2.cast("double") / F.lit(2.0)).alias("mann_whitney_u"),
        _r6(auc).alias("auc"),
        _r6(z).alias("z_score"),
    )


SQL_RANK_AUC = """
WITH ev AS (
  SELECT CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events
), v AS (
  SELECT c, CAST(count(*) AS BIGINT) AS cnt,
    CAST(sum(p) AS BIGINT) AS pc
  FROM ev GROUP BY c
), r AS (
  SELECT cnt, pc,
    2*coalesce(sum(cnt) OVER (ORDER BY c
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + cnt + 1 AS r2,
    cnt*cnt*cnt - cnt AS t3
  FROM v
), a AS (
  SELECT CAST(sum(pc * r2) AS BIGINT) AS s2,
    CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pc) AS BIGINT) AS n1,
    CAST(sum(t3) AS BIGINT) AS tt
  FROM r
)
SELECT n1 AS n_pos, n - n1 AS n_neg,
  CAST(s2 - n1*(n1+1) AS DOUBLE) / 2.0 AS mann_whitney_u,
  round(CAST(s2 - n1*(n1+1) AS DOUBLE)
        / CAST(2*n1*(n - n1) AS DOUBLE), 6) AS auc,
  round(CAST(s2 - n1*(n1+1) - n1*(n - n1) AS DOUBLE)
        / (2.0 * sqrt(CAST(n1*(n - n1) AS DOUBLE)
            * (CAST(n + 1 AS DOUBLE)
               - CAST(tt AS DOUBLE) / CAST(n*(n-1) AS DOUBLE))
            / 12.0)), 6) AS z_score
FROM a
"""

QUERIES["rank_auc"] = q_rank_auc
_RAW_ORACLES["rank_auc"] = SQL_RANK_AUC


def q_knn_shapley(spark, sf_dir):
    """KNN-Shapley data valuation (Jia et al. VLDB 2019, Theorem 1 —
    operators/similarity.py knn_shapley): the exact Shapley value of
    each training embedding for a 5-NN label classifier over a
    deterministic held-out query set, the closed-form
    training-data-attribution primitive (2^N coalitions collapse to
    one sorted sweep per test point). Neighbor order is the EXACT
    INT8 integer dot product with id tie-breaks (cross-engine exact);
    the suffix-sum recursion runs as a rank-DESC running window inside
    the ONE query-keyed exchange; only the final cross-query mean is
    an unordered float reduction (rounded 6dp both sides). Corpus =
    even vec_ids, queries = vec_id % 8 == 1 (disjoint), the bounded
    registered brute leg — at scale the same sweep runs inside
    IVF/LSH candidate buckets over identical codes."""
    from mpds_spark.operators.similarity import knn_shapley

    emb = load(spark, sf_dir, "embeddings")
    out = knn_shapley(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 8 == 1),
        k=5,
    )
    return out.select(
        "train_id", "n_queries", _r6("mean_shapley").alias("mean_shapley")
    )


SQL_KNN_SHAPLEY = """
WITH base AS (
  SELECT vec_id, label,
    list_transform(embedding::DOUBLE[], x ->
      CAST(floor(abs(127.0::DOUBLE * x /
        sqrt(list_dot_product(embedding::DOUBLE[],
                              embedding::DOUBLE[]))) + 0.5)
           * sign(x) AS BIGINT)) AS q
  FROM embeddings
), tr AS (
  SELECT vec_id AS train_id, label AS tl, q FROM base
  WHERE vec_id % 2 = 0
), qs AS (
  SELECT vec_id AS query_id, label AS ql, q AS qq FROM base
  WHERE vec_id % 8 = 1
), p AS (
  SELECT t.train_id, s.query_id,
    CAST(list_dot_product(t.q::DOUBLE[], s.qq::DOUBLE[]) AS BIGINT)
      AS sc,
    CASE WHEN t.tl = s.ql THEN 1 ELSE 0 END AS i
  FROM tr t JOIN qs s ON s.query_id <> t.train_id
), r AS (
  SELECT train_id, query_id, i,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY sc DESC, train_id) AS rnk,
    lead(i) OVER (PARTITION BY query_id
                  ORDER BY sc DESC, train_id) AS inext,
    count(*) OVER (PARTITION BY query_id) AS nn,
    last_value(i) OVER (PARTITION BY query_id
      ORDER BY sc DESC, train_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      AS ilast
  FROM p
), dd AS (
  SELECT train_id, query_id, nn, ilast, rnk,
    CASE WHEN rnk < nn THEN
      CAST((i - inext) * least(5, rnk) AS DOUBLE)
        / CAST(5 * rnk AS DOUBLE)
    ELSE 0.0 END AS d
  FROM r
), sfx AS (
  SELECT train_id, query_id,
    CAST(ilast AS DOUBLE) / CAST(nn AS DOUBLE)
      + sum(d) OVER (PARTITION BY query_id ORDER BY rnk DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shap
  FROM dd
)
SELECT train_id, CAST(count(*) AS BIGINT) AS n_queries,
  round(avg(shap), 6) AS mean_shapley
FROM sfx GROUP BY train_id
"""

QUERIES["knn_shapley"] = q_knn_shapley
_RAW_ORACLES["knn_shapley"] = SQL_KNN_SHAPLEY


def q_wasserstein_drift(spark, sf_dir):
    """1-D Wasserstein-1 (earth mover's) distance between the purchase
    and click value distributions, PLUS the KS statistic from the same
    sweep — the drift metric pair a feature-monitoring pipeline wants
    (W1 sees magnitude of shift, KS sees the worst point). Entirely
    integer-exact: over the merged distinct-cents support, |F_A - F_B|
    = |cumA*nB - cumB*nA| / (nA*nB), so W1 = sum(|cumA*nB - cumB*nA|
    * gap) / (nA*nB) accumulates exact longs and performs ONE double
    division at the end (ditto KS = max numerator). One distinct-cents
    agg + one tiny global window — the per-row frame never sorts. At
    10^12 rows the distinct-support frame is the value histogram, not
    the corpus."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        (
            F.signum("value") * F.floor(F.abs(F.col("value")) * 100
                                        + F.lit(0.5))
        ).cast("long").alias("__c"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("__a"),
    )
    v = ev.groupBy("__c").agg(
        F.sum("__a").cast("long").alias("__ca"),
        F.sum(1 - F.col("__a")).cast("long").alias("__cb"),
    )
    wcum = Window.orderBy("__c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("__c").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wlead = Window.orderBy("__c")
    v = v.select(
        "__c",
        F.sum("__ca").over(wcum).alias("__cA"),
        F.sum("__cb").over(wcum).alias("__cB"),
        F.sum("__ca").over(wall).alias("__na"),
        F.sum("__cb").over(wall).alias("__nb"),
        (F.lead("__c").over(wlead) - F.col("__c")).alias("__gap"),
    )
    num = F.abs(
        F.col("__cA") * F.col("__nb") - F.col("__cB") * F.col("__na")
    )
    a = v.select(
        num.alias("__num"), "__gap", "__na", "__nb"
    ).agg(
        F.sum(F.col("__num") * F.coalesce("__gap", F.lit(0).cast("long")))
        .cast("long").alias("__w1n"),
        F.max("__num").cast("long").alias("__ksn"),
        F.max("__na").alias("__n1"),
        F.max("__nb").alias("__n0"),
    )
    denom = (F.col("__n1") * F.col("__n0")).cast("double")
    return a.select(
        F.col("__n1").alias("n_purchase"),
        F.col("__n0").alias("n_click"),
        (F.col("__w1n").cast("double") / denom / F.lit(100.0))
        .alias("wasserstein"),
        (F.col("__ksn").cast("double") / denom).alias("ks_stat"),
    )


SQL_WASSERSTEIN_DRIFT = """
WITH ev AS (
  SELECT CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
  FROM events WHERE event_type IN ('purchase', 'click')
), v AS (
  SELECT c, CAST(sum(a) AS BIGINT) AS ca,
    CAST(sum(1 - a) AS BIGINT) AS cb
  FROM ev GROUP BY c
), s AS (
  SELECT c,
    sum(ca) OVER (ORDER BY c
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cA,
    sum(cb) OVER (ORDER BY c
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cB,
    sum(ca) OVER () AS na, sum(cb) OVER () AS nb,
    lead(c) OVER (ORDER BY c) - c AS gap
  FROM v
), a AS (
  SELECT CAST(sum(abs(cA*nb - cB*na) * coalesce(gap, 0)) AS BIGINT)
      AS w1n,
    CAST(max(abs(cA*nb - cB*na)) AS BIGINT) AS ksn,
    CAST(max(na) AS BIGINT) AS n1, CAST(max(nb) AS BIGINT) AS n0
  FROM s
)
SELECT n1 AS n_purchase, n0 AS n_click,
  CAST(w1n AS DOUBLE) / CAST(n1*n0 AS DOUBLE) / 100.0 AS wasserstein,
  CAST(ksn AS DOUBLE) / CAST(n1*n0 AS DOUBLE) AS ks_stat
FROM a
"""

QUERIES["wasserstein_drift"] = q_wasserstein_drift
_RAW_ORACLES["wasserstein_drift"] = SQL_WASSERSTEIN_DRIFT


def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa (Cohen 1960) between two deterministic document
    quality raters — the inter-annotator-agreement audit every
    labeling/filtering pipeline runs before trusting a rule or a
    model-distilled classifier: rater A keeps n_chars >= 120, rater B
    keeps docs with >= 20 whitespace-delimited words (word count from
    the space-count identity length(text) - length(replace(text,' ',''))
    + 1, identical in any engine). The 2x2 contingency cells come from
    ONE aggregate; po, pe and kappa = (n*(n11+n00) - sum(r*c)) /
    (n^2 - sum(r*c)) are single exact-integer-ratio divisions — no
    float folds anywhere."""
    d = load(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") >= 120, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("__ra"),
        F.when(
            F.length("text")
            - F.length(F.regexp_replace("text", " ", "")) + 1 >= 20,
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long").alias("__rb"),
    )
    a = d.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("__ra") * F.col("__rb")).cast("long").alias("__n11"),
        F.sum((1 - F.col("__ra")) * (1 - F.col("__rb"))).cast("long")
        .alias("__n00"),
        F.sum(F.col("__ra") * (1 - F.col("__rb"))).cast("long")
        .alias("__n10"),
        F.sum((1 - F.col("__ra")) * F.col("__rb")).cast("long")
        .alias("__n01"),
    )
    r1 = F.col("__n11") + F.col("__n10")
    r0 = F.col("__n00") + F.col("__n01")
    c1 = F.col("__n11") + F.col("__n01")
    c0 = F.col("__n00") + F.col("__n10")
    rc = r1 * c1 + r0 * c0
    po = (F.col("__n11") + F.col("__n00")).cast("double") \
        / F.col("__n").cast("double")
    pe = rc.cast("double") / (F.col("__n") * F.col("__n")).cast("double")
    kappa = (
        (F.col("__n") * (F.col("__n11") + F.col("__n00")) - rc)
        .cast("double")
        / (F.col("__n") * F.col("__n") - rc).cast("double")
    )
    return a.select(
        F.col("__n").alias("n_docs"),
        F.col("__n11").alias("n_both_keep"),
        F.col("__n00").alias("n_both_drop"),
        F.col("__n10").alias("n_only_a"),
        F.col("__n01").alias("n_only_b"),
        po.alias("p_observed"),
        pe.alias("p_expected"),
        kappa.alias("kappa"),
    )


SQL_COHENS_KAPPA = """
WITH d AS (
  SELECT CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END AS ra,
    CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 >= 20
      THEN 1 ELSE 0 END AS rb
  FROM documents
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(ra*rb) AS BIGINT) AS n11,
    CAST(sum((1-ra)*(1-rb)) AS BIGINT) AS n00,
    CAST(sum(ra*(1-rb)) AS BIGINT) AS n10,
    CAST(sum((1-ra)*rb) AS BIGINT) AS n01
  FROM d
)
SELECT n AS n_docs, n11 AS n_both_keep, n00 AS n_both_drop,
  n10 AS n_only_a, n01 AS n_only_b,
  CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS p_observed,
  CAST((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10) AS DOUBLE)
    / CAST(n*n AS DOUBLE) AS p_expected,
  CAST(n*(n11+n00) - ((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10))
       AS DOUBLE)
    / CAST(n*n - ((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10))
           AS DOUBLE) AS kappa
FROM a
"""

QUERIES["cohens_kappa"] = q_cohens_kappa
_RAW_ORACLES["cohens_kappa"] = SQL_COHENS_KAPPA


def q_silhouette_cosine(spark, sf_dir):
    """Per-point silhouette under mean-cosine dissimilarity (Rousseeuw
    1987 — operators/similarity.py silhouette_cosine): the labeled-
    embedding cluster-quality audit, with the O(n^2) pairwise
    definition collapsed to O(n*L) via linearity of the mean cosine —
    one exact-integer L x dim label-sum table (ONE corpus agg +
    bounded L-row fit) and a shuffle-free scoring map. a/b/s are
    single IEEE divisions of exact longs (int8 codes, 64-dim dots
    < 2^53), so the gate is EXACT with zero rounding; the oracle
    recomputes the identical sum table and per-label min, proving the
    linearity collapse against the definitional form."""
    from mpds_spark.operators.similarity import silhouette_cosine

    emb = load(spark, sf_dir, "embeddings")
    return silhouette_cosine(emb).select(
        "vec_id", "label", "a_intra", "b_inter", "silhouette"
    )


SQL_SILHOUETTE_COSINE = """
WITH base AS (
  SELECT vec_id, label,
    list_transform(embedding::DOUBLE[], x ->
      CAST(floor(abs(127.0::DOUBLE * x /
        sqrt(list_dot_product(embedding::DOUBLE[],
                              embedding::DOUBLE[]))) + 0.5)
           * sign(x) AS BIGINT)) AS q
  FROM embeddings
), comp AS (
  SELECT label, unnest(q) AS v, generate_subscripts(q, 1) AS pos
  FROM base
), lsum AS (
  SELECT label AS lb, array_agg(sv ORDER BY pos) AS sv
  FROM (
    SELECT label, pos, CAST(sum(v) AS BIGINT) AS sv
    FROM comp GROUP BY label, pos
  ) GROUP BY label
), cnt AS (
  SELECT label AS lb, CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY label
), x AS (
  SELECT b.vec_id, b.label, l.lb, c.n,
    CAST(list_dot_product(b.q::DOUBLE[], l.sv::DOUBLE[]) AS BIGINT)
      AS dt,
    CAST(list_dot_product(b.q::DOUBLE[], b.q::DOUBLE[]) AS BIGINT)
      AS sd
  FROM base b, lsum l JOIN cnt c ON c.lb = l.lb
), p AS (
  SELECT vec_id, label,
    max(CASE WHEN lb = label AND n > 1 THEN
      CAST((n-1)*16129 - (dt - sd) AS DOUBLE)
        / CAST((n-1)*16129 AS DOUBLE) END) AS a,
    min(CASE WHEN lb <> label THEN
      CAST(n*16129 - dt AS DOUBLE) / CAST(n*16129 AS DOUBLE) END) AS b
  FROM x GROUP BY vec_id, label
)
SELECT vec_id, label, a AS a_intra, b AS b_inter,
  CASE WHEN a IS NULL THEN 0.0
       ELSE (b - a) / greatest(a, b) END AS silhouette
FROM p
"""

QUERIES["silhouette_cosine"] = q_silhouette_cosine
_RAW_ORACLES["silhouette_cosine"] = SQL_SILHOUETTE_COSINE


def q_calibration_bins(spark, sf_dir):
    """Reliability diagram + expected calibration error + Brier score
    (Brier 1950; ECE as in Naeini et al. 2015 / Guo et al. 2017) for a
    deterministic length-based document classifier: predicted
    probability s = least(n_chars, 400)/400 of the label y = "doc has
    >= 50 whitespace words" (space-count identity), 10 equal-width
    score bins via integer division. Entirely integer-exact: per-bin
    confidence = sum(m)/(400 n_b), accuracy = pos_b/n_b, ECE =
    sum_b |400 pos_b - sum_b(m)| / (400 N) and Brier = (sum m^2 -
    800 sum(m y) + 160000 sum y)/(160000 N) all accumulate exact longs
    and divide ONCE — no float folds, no rounding, gate EXACT. ONE bin
    agg + one tiny global window over the <=10-row bin frame; at 10^12
    docs the bin frame is still 10 rows."""
    d = load(spark, sf_dir, "documents").select(
        F.least(F.col("n_chars"), F.lit(400)).cast("long").alias("__m"),
        F.when(
            F.length("text")
            - F.length(F.regexp_replace("text", " ", "")) + 1 >= 50,
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long").alias("__y"),
    )
    b = d.groupBy(
        F.least(F.lit(9).cast("long"), F.expr("__m div 40")).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__pos"),
        F.sum("__m").cast("long").alias("__sm"),
        F.sum(F.col("__m") * F.col("__m")).cast("long").alias("__sm2"),
        F.sum(F.col("__m") * F.col("__y")).cast("long").alias("__smy"),
    )
    wall = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = b.select(
        "bin", "__n", "__pos", "__sm",
        F.sum("__n").over(wall).alias("__ntot"),
        F.sum(F.abs(F.lit(400) * F.col("__pos") - F.col("__sm")))
        .over(wall).alias("__eceN"),
        (
            F.sum("__sm2").over(wall)
            - F.lit(800) * F.sum("__smy").over(wall)
            + F.lit(160000) * F.sum("__pos").over(wall)
        ).alias("__brierN"),
    )
    return b.select(
        "bin",
        F.col("__n").alias("n_docs"),
        F.col("__pos").alias("n_pos"),
        (F.col("__sm").cast("double")
         / (F.lit(400) * F.col("__n")).cast("double")).alias("confidence"),
        (F.col("__pos").cast("double") / F.col("__n").cast("double"))
        .alias("accuracy"),
        (F.col("__eceN").cast("double")
         / (F.lit(400) * F.col("__ntot")).cast("double")).alias("ece"),
        (F.col("__brierN").cast("double")
         / (F.lit(160000) * F.col("__ntot")).cast("double")).alias("brier"),
    )


SQL_CALIBRATION_BINS = """
WITH d AS (
  SELECT CAST(least(n_chars, 400) AS BIGINT) AS m,
    CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 >= 50
      THEN 1 ELSE 0 END AS y
  FROM documents
), b AS (
  SELECT least(9, m // 40) AS bin,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS pos,
    CAST(sum(m) AS BIGINT) AS sm,
    CAST(sum(m*m) AS BIGINT) AS sm2,
    CAST(sum(m*y) AS BIGINT) AS smy
  FROM d GROUP BY 1
), w AS (
  SELECT bin, n, pos, sm,
    sum(n) OVER () AS nn,
    sum(abs(400*pos - sm)) OVER () AS ecen,
    sum(sm2) OVER () - 800*sum(smy) OVER ()
      + 160000*sum(pos) OVER () AS briern
  FROM b
)
SELECT bin, n AS n_docs, pos AS n_pos,
  CAST(sm AS DOUBLE) / CAST(400*n AS DOUBLE) AS confidence,
  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
  CAST(ecen AS DOUBLE) / CAST(400*nn AS DOUBLE) AS ece,
  CAST(briern AS DOUBLE) / CAST(160000*nn AS DOUBLE) AS brier
FROM w
"""

QUERIES["calibration_bins"] = q_calibration_bins
_RAW_ORACLES["calibration_bins"] = SQL_CALIBRATION_BINS


def q_markov_accuracy(spark, sf_dir):
    """First-order Markov next-event predictability audit (the Shannon
    1951 guessing-game baseline for event sequences, and the
    sanity floor every sequence model must beat): fit the global
    event-type transition table, predict the modal next type per
    current type, and report each type's top-1 accuracy. The key
    collapse: the correct-prediction count per current type IS the max
    transition count, so no join back to the pair stream is needed —
    ONE entity exchange builds (cur, next) lead pairs, a transition
    agg counts them, and a tiny per-cur argmax via min(struct(-cnt,
    next)) (count desc, type asc — deterministic tie-break) finishes.
    accuracy = ONE division of exact longs; gate EXACT. Complements
    transition_entropy (the information bound) with the achievable
    top-1 rate."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("__t"),
        F.col("event_type").alias("__cur"),
    )
    w = Window.partitionBy("user_id").orderBy("__t")
    pairs = ev.withColumn("__nxt", F.lead("__cur").over(w)).filter(
        F.col("__nxt").isNotNull()
    )
    t = pairs.groupBy("__cur", "__nxt").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt")
    )
    a = t.groupBy("__cur").agg(
        F.sum("__cnt").cast("long").alias("__np"),
        F.min(
            F.struct(
                (-F.col("__cnt")).alias("negc"),
                F.col("__nxt").alias("nxt"),
            )
        ).alias("__best"),
    )
    return a.select(
        F.col("__cur").alias("cur_type"),
        F.col("__best.nxt").alias("predicted_next"),
        F.col("__np").alias("n_pairs"),
        (-F.col("__best.negc")).cast("long").alias("n_correct"),
        ((-F.col("__best.negc")).cast("double")
         / F.col("__np").cast("double")).alias("accuracy"),
    )


SQL_MARKOV_ACCURACY = """
WITH ev AS (
  SELECT user_id, epoch(ts) AS t, event_type AS cur FROM events
), p AS (
  SELECT cur,
    lead(cur) OVER (PARTITION BY user_id ORDER BY t) AS nxt
  FROM ev
), t AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt
  FROM p WHERE nxt IS NOT NULL GROUP BY cur, nxt
), a AS (
  SELECT cur, nxt, cnt,
    row_number() OVER (PARTITION BY cur
                       ORDER BY cnt DESC, nxt) AS rn,
    CAST(sum(cnt) OVER (PARTITION BY cur) AS BIGINT) AS np
  FROM t
)
SELECT cur AS cur_type, nxt AS predicted_next, np AS n_pairs,
  cnt AS n_correct,
  CAST(cnt AS DOUBLE) / CAST(np AS DOUBLE) AS accuracy
FROM a WHERE rn = 1
"""

QUERIES["markov_accuracy"] = q_markov_accuracy
_RAW_ORACLES["markov_accuracy"] = SQL_MARKOV_ACCURACY


def q_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the co-order part graph
    (operators/graph.py degree_assortativity): Pearson correlation of
    endpoint degrees over the directed doubling of the edge set —
    whether hub parts co-occur with hub parts. Exact integer moments
    (one moment agg over the annotated directed edges), fixed
    expression tree for r (all intermediate longs < 2^53 so every
    double op is on exactly-represented values): the gate is EXACT
    with zero rounding. Same %4 subgraph gate as graph_triangles to
    bound the toy-scale pair flatten; at 10^12 rows the edge build is
    the bucketed basket aggregation and the moment agg is one
    map-side-combine pass."""
    from mpds_spark.operators.graph import (
        co_occurrence_edges,
        degree_assortativity,
    )

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    edges = co_occurrence_edges(
        li, basket="l_orderkey", item="l_partkey"
    )
    return degree_assortativity(edges).select(
        "n_nodes", "n_edges", "assortativity"
    )


SQL_DEGREE_ASSORTATIVITY = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem WHERE l_partkey % 4 = 0
), e AS (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY node
), dir AS (
  SELECT a AS s, b AS d FROM e
  UNION ALL SELECT b AS s, a AS d FROM e
), ann AS (
  SELECT ds.degree AS x, dd.degree AS y
  FROM dir JOIN deg ds ON ds.node = dir.s
           JOIN deg dd ON dd.node = dir.d
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x*y) AS BIGINT) AS sxy,
    CAST(sum(x*x) AS BIGINT) AS sxx,
    CAST(sum(y*y) AS BIGINT) AS syy
  FROM ann
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
)
SELECT nn.n_nodes, m.m // 2 AS n_edges,
  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
     * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
    AS assortativity
FROM m, nn
"""

QUERIES["degree_assortativity"] = q_degree_assortativity
_RAW_ORACLES["degree_assortativity"] = SQL_DEGREE_ASSORTATIVITY


def q_kendall_tau(spark, sf_dir):
    """Kendall tau-b rank correlation (Kendall 1938; tau-b tie
    correction as in Agresti, "Analysis of Ordinal Categorical Data")
    between document length decile and word-count decile — the
    ordinal-association audit that, unlike Pearson/Spearman, is a
    direct function of concordant/discordant PAIR counts, so it reads
    as "probability a random doc pair agrees in order". The O(n^2)
    pair definition collapses to the contingency table: C and D are
    cell-pair sums over the <=100-cell frame (a broadcast self-join of
    the aggregate — BNLJ-by-design on a bounded frame, never the
    corpus), tie terms come from the row/column marginals, and tau_b =
    (C-D)/(sqrt(n0-Tx)*sqrt(n0-Ty)) is a fixed expression tree over
    exact longs — gate EXACT, no rounding. Goodman-Kruskal gamma
    rides along as the tie-free companion. At 10^12 docs the cell
    frame is STILL <=100 rows — the corpus is touched exactly once."""
    d = load(spark, sf_dir, "documents").select(
        F.least(F.lit(9).cast("long"),
                F.expr("cast(n_chars as bigint) div 40")).alias("__i"),
        F.least(
            F.lit(9).cast("long"),
            F.expr(
                "cast(length(text) - length(replace(text, ' ', ''))"
                " + 1 as bigint) div 10"
            ),
        ).alias("__j"),
    )
    cells = d.groupBy("__i", "__j").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    from mpds_spark.operators.util import scratch_persist

    cells = scratch_persist(cells)
    c1 = cells.select(F.col("__i").alias("i1"), F.col("__j").alias("j1"),
                      F.col("__n").alias("n1"))
    c2 = cells.select(F.col("__i").alias("i2"), F.col("__j").alias("j2"),
                      F.col("__n").alias("n2"))
    cd = (
        c1.join(F.broadcast(c2), F.col("i2") > F.col("i1"))
        .agg(
            F.sum(
                F.when(F.col("j2") > F.col("j1"),
                       F.col("n1") * F.col("n2")).otherwise(F.lit(0))
            ).cast("long").alias("__C"),
            F.sum(
                F.when(F.col("j2") < F.col("j1"),
                       F.col("n1") * F.col("n2")).otherwise(F.lit(0))
            ).cast("long").alias("__D"),
        )
    )
    tx = (
        cells.groupBy("__i").agg(F.sum("__n").cast("long").alias("t"))
        .agg((F.sum(F.col("t") * (F.col("t") - 1)) / F.lit(2))
             .cast("long").alias("__tx"),
             F.sum("t").cast("long").alias("__nd"))
    )
    ty = (
        cells.groupBy("__j").agg(F.sum("__n").cast("long").alias("t"))
        .agg((F.sum(F.col("t") * (F.col("t") - 1)) / F.lit(2))
             .cast("long").alias("__ty"))
    )
    one = cd.join(F.broadcast(tx)).join(F.broadcast(ty))
    n0 = (F.col("__nd") * (F.col("__nd") - 1) / F.lit(2)).cast("long")
    one = one.withColumn("__n0", n0)
    tau = (F.col("__C") - F.col("__D")).cast("double") / (
        F.sqrt((F.col("__n0") - F.col("__tx")).cast("double"))
        * F.sqrt((F.col("__n0") - F.col("__ty")).cast("double"))
    )
    gamma = (F.col("__C") - F.col("__D")).cast("double") / (
        F.col("__C") + F.col("__D")
    ).cast("double")
    return one.select(
        F.col("__nd").alias("n_docs"),
        F.col("__C").alias("concordant"),
        F.col("__D").alias("discordant"),
        tau.alias("tau_b"),
        gamma.alias("gamma"),
    )


SQL_KENDALL_TAU = """
WITH d AS (
  SELECT least(9, CAST(n_chars AS BIGINT) // 40) AS i,
    least(9, CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) // 10) AS j
  FROM documents
), cells AS (
  SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY i, j
), cd AS (
  SELECT
    CAST(sum(CASE WHEN c2.j > c1.j THEN c1.n * c2.n ELSE 0 END)
         AS BIGINT) AS c,
    CAST(sum(CASE WHEN c2.j < c1.j THEN c1.n * c2.n ELSE 0 END)
         AS BIGINT) AS dd
  FROM cells c1 JOIN cells c2 ON c2.i > c1.i
), tx AS (
  SELECT CAST(sum(t*(t-1)) // 2 AS BIGINT) AS tx,
         CAST(sum(t) AS BIGINT) AS nd
  FROM (SELECT sum(n) AS t FROM cells GROUP BY i)
), ty AS (
  SELECT CAST(sum(t*(t-1)) // 2 AS BIGINT) AS ty
  FROM (SELECT sum(n) AS t FROM cells GROUP BY j)
)
SELECT nd AS n_docs, c AS concordant, dd AS discordant,
  CAST(c - dd AS DOUBLE)
    / (sqrt(CAST(nd*(nd-1)//2 - tx AS DOUBLE))
       * sqrt(CAST(nd*(nd-1)//2 - ty AS DOUBLE))) AS tau_b,
  CAST(c - dd AS DOUBLE) / CAST(c + dd AS DOUBLE) AS gamma
FROM cd, tx, ty
"""

QUERIES["kendall_tau"] = q_kendall_tau
_RAW_ORACLES["kendall_tau"] = SQL_KENDALL_TAU


def q_did_estimate(spark, sf_dir):
    """Difference-in-differences estimate + pooled standard error
    (Card & Krueger 1994 for the design; SE caveat per Bertrand,
    Duflo & Mullainathan 2004 — with one period per side the pooled
    4-cell SE is the textbook form) over purchase values: treatment =
    md5-parity user assignment (an A/A audit by construction, like
    srm_check — the expected DiD is ~0, so a large |t| flags a broken
    assignment or leaky metric), period = second half of the month (day >= 16) vs first. ONE cell
    aggregate (n, sum-cents, sum-cents^2 — exact longs), pivoted to a
    single row by order-independent conditional MAX, then a FIXED
    expression tree: each mean is one division of exact longs, DiD two
    subtractions, the variance terms Welford-free exact-moment forms.
    No float folds anywhere -> gate EXACT. At 10^12 rows the cell
    frame is 4 rows."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("did|"),
                                   F.col("user_id").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long") % 2
        ).alias("__tr"),
        F.when(F.dayofmonth(F.col("ts").cast("timestamp")) >= 16, F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("__po"),
        (
            F.signum("value") * F.floor(F.abs(F.col("value")) * 100
                                        + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    cells = ev.groupBy("__tr", "__po").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__c").cast("long").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__s2"),
    )
    p = cells.agg(
        *[
            f
            for tr in (0, 1)
            for po in (0, 1)
            for f in (
                F.max(
                    F.when((F.col("__tr") == tr) & (F.col("__po") == po),
                           F.col("__n"))
                ).alias(f"n{tr}{po}"),
                F.max(
                    F.when((F.col("__tr") == tr) & (F.col("__po") == po),
                           F.col("__s"))
                ).alias(f"s{tr}{po}"),
                F.max(
                    F.when((F.col("__tr") == tr) & (F.col("__po") == po),
                           F.col("__s2"))
                ).alias(f"q{tr}{po}"),
            )
        ]
    )

    def mean(tr, po):
        return F.col(f"s{tr}{po}").cast("double") / (
            F.lit(100) * F.col(f"n{tr}{po}")
        ).cast("double")

    def varterm(tr, po):
        n = F.col(f"n{tr}{po}").cast("double")
        s = F.col(f"s{tr}{po}").cast("double")
        q = F.col(f"q{tr}{po}").cast("double")
        return (q - s * s / n) / (n - F.lit(1.0)) / n

    did = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
    se = F.sqrt(
        varterm(0, 0) + varterm(0, 1) + varterm(1, 0) + varterm(1, 1)
    ) / F.lit(100.0)
    return p.select(
        (F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11"))
        .alias("n_purchases"),
        mean(0, 0).alias("mean_ctrl_pre"),
        mean(0, 1).alias("mean_ctrl_post"),
        mean(1, 0).alias("mean_treat_pre"),
        mean(1, 1).alias("mean_treat_post"),
        did.alias("did"),
        se.alias("did_se"),
        (did / se).alias("t_stat"),
    )


SQL_DID_ESTIMATE = """
WITH ev AS (
  SELECT
    CAST(('0x' || substring(md5('did|' || CAST(user_id AS VARCHAR)),
          1, 15))::UBIGINT % 2 AS BIGINT) AS tr,
    CASE WHEN day(ts) >= 16 THEN 1 ELSE 0 END AS po,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
), cells AS (
  SELECT tr, po, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c*c) AS BIGINT) AS q
  FROM ev GROUP BY tr, po
), p AS (
  SELECT
    max(CASE WHEN tr=0 AND po=0 THEN n END) AS n00,
    max(CASE WHEN tr=0 AND po=0 THEN s END) AS s00,
    max(CASE WHEN tr=0 AND po=0 THEN q END) AS q00,
    max(CASE WHEN tr=0 AND po=1 THEN n END) AS n01,
    max(CASE WHEN tr=0 AND po=1 THEN s END) AS s01,
    max(CASE WHEN tr=0 AND po=1 THEN q END) AS q01,
    max(CASE WHEN tr=1 AND po=0 THEN n END) AS n10,
    max(CASE WHEN tr=1 AND po=0 THEN s END) AS s10,
    max(CASE WHEN tr=1 AND po=0 THEN q END) AS q10,
    max(CASE WHEN tr=1 AND po=1 THEN n END) AS n11,
    max(CASE WHEN tr=1 AND po=1 THEN s END) AS s11,
    max(CASE WHEN tr=1 AND po=1 THEN q END) AS q11
  FROM cells
), f AS (
  SELECT n00 + n01 + n10 + n11 AS n_purchases,
    CAST(s00 AS DOUBLE)/CAST(100*n00 AS DOUBLE) AS m00,
    CAST(s01 AS DOUBLE)/CAST(100*n01 AS DOUBLE) AS m01,
    CAST(s10 AS DOUBLE)/CAST(100*n10 AS DOUBLE) AS m10,
    CAST(s11 AS DOUBLE)/CAST(100*n11 AS DOUBLE) AS m11,
    sqrt(
      (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE)*CAST(s00 AS DOUBLE)
        / CAST(n00 AS DOUBLE)) / (CAST(n00 AS DOUBLE) - 1.0)
        / CAST(n00 AS DOUBLE)
      + (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE)*CAST(s01 AS DOUBLE)
        / CAST(n01 AS DOUBLE)) / (CAST(n01 AS DOUBLE) - 1.0)
        / CAST(n01 AS DOUBLE)
      + (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE)*CAST(s10 AS DOUBLE)
        / CAST(n10 AS DOUBLE)) / (CAST(n10 AS DOUBLE) - 1.0)
        / CAST(n10 AS DOUBLE)
      + (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE)*CAST(s11 AS DOUBLE)
        / CAST(n11 AS DOUBLE)) / (CAST(n11 AS DOUBLE) - 1.0)
        / CAST(n11 AS DOUBLE)
    ) / 100.0 AS se
  FROM p
)
SELECT n_purchases, m00 AS mean_ctrl_pre, m01 AS mean_ctrl_post,
  m10 AS mean_treat_pre, m11 AS mean_treat_post,
  (m11 - m10) - (m01 - m00) AS did, se AS did_se,
  ((m11 - m10) - (m01 - m00)) / se AS t_stat
FROM f
"""

QUERIES["did_estimate"] = q_did_estimate
_RAW_ORACLES["did_estimate"] = SQL_DID_ESTIMATE


def q_perm_entropy(spark, sf_dir):
    """Per-user permutation entropy of the purchase-value stream
    (Bandt & Pompe 2002, "Permutation entropy: a natural complexity
    measure for time series", PRL 88 — the standard
    model-free complexity feature for sensor/behavioral series, robust
    to monotone transforms because it sees only ORDER patterns):
    embed order m=3, ordinal pattern of each consecutive value triple
    under the stable (value, time-index) tie rule, normalized Shannon
    entropy of the 6-pattern distribution. Encoded branch-free: the
    three pairwise stable comparisons (b01, b02, b12) determine the
    permutation, so code = 4*b01 + 2*b02 + b12 needs no rank sort.
    Counts are exact longs; the entropy folds SEQUENTIALLY over the
    code-sorted cell array (<=6 cells/user), so no shuffle-order float
    summation on either engine (the transition_entropy discipline);
    _r6 absorbs libm ln ULP skew. ONE user exchange feeds both lead
    windows and the cell count. Low H -> trending/periodic behavior,
    H ~ 1 -> white-noise spending."""
    import math

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("__t"),
        "event_id",
        (
            F.signum("value") * F.floor(F.abs(F.col("value")) * 100
                                        + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    w = Window.partitionBy("user_id").orderBy("__t", "event_id")
    d = (
        ev.withColumn("__v1", F.lead("__c", 1).over(w))
        .withColumn("__v2", F.lead("__c", 2).over(w))
        .filter(F.col("__v2").isNotNull())
    )
    code = (
        F.when(F.col("__c") <= F.col("__v1"), F.lit(4)).otherwise(F.lit(0))
        + F.when(F.col("__c") <= F.col("__v2"), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.col("__v1") <= F.col("__v2"), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    cells = d.groupBy("user_id", code.alias("__k")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    per_u = cells.groupBy("user_id").agg(
        F.sum("__n").cast("long").alias("n_triples"),
        F.array_sort(F.collect_list(F.struct("__k", "__n"))).alias("__a"),
    )
    h = F.expr(
        "aggregate(__a, 0.0D, (acc, x) -> acc + (cast(x.__n as double)"
        " / cast(n_triples as double))"
        " * ln(cast(n_triples as double) / cast(x.__n as double)))"
    )
    return per_u.select(
        "user_id",
        "n_triples",
        _r6(h / F.lit(math.log(6.0))).alias("perm_entropy"),
    )


SQL_PERM_ENTROPY = """
WITH ev AS (
  SELECT user_id, epoch(ts) AS t, event_id,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events
), tr AS (
  SELECT user_id, c,
    lead(c, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS v1,
    lead(c, 2) OVER (PARTITION BY user_id ORDER BY t, event_id) AS v2
  FROM ev
), pat AS (
  SELECT user_id,
    (CASE WHEN c <= v1 THEN 4 ELSE 0 END
     + CASE WHEN c <= v2 THEN 2 ELSE 0 END
     + CASE WHEN v1 <= v2 THEN 1 ELSE 0 END) AS k
  FROM tr WHERE v2 IS NOT NULL
), cells AS (
  SELECT user_id, k, CAST(count(*) AS BIGINT) AS n
  FROM pat GROUP BY user_id, k
), tot AS (
  SELECT user_id, CAST(sum(n) AS BIGINT) AS nt
  FROM cells GROUP BY user_id
), h AS (
  SELECT cells.user_id,
    list_sum(list((n::DOUBLE / nt::DOUBLE) * ln(nt::DOUBLE / n::DOUBLE)
      ORDER BY k)) AS h
  FROM cells JOIN tot ON tot.user_id = cells.user_id
  GROUP BY cells.user_id
)
SELECT tot.user_id, nt AS n_triples,
  round(h.h / {LN6}, 6) AS perm_entropy
FROM tot JOIN h ON h.user_id = tot.user_id
""".replace("{LN6}", __import__("math").log(6.0).__repr__())

QUERIES["perm_entropy"] = q_perm_entropy
_RAW_ORACLES["perm_entropy"] = SQL_PERM_ENTROPY


def q_theil_index(spark, sf_dir):
    """Per-source Theil-T inequality decomposition of document word
    counts (Theil 1967; the between/within decomposition as in
    Shorrocks 1980, "The class of additively decomposable inequality
    measures", Econometrica — the corpus-balance audit that says
    whether length inequality lives INSIDE sources or BETWEEN them,
    which decides whether to rebalance the mixture or re-chunk
    individual sources): T = T_between + sum_g s_g T_g with
    s_g = X_g / X the token share. Per source: T_g = (1/X_g) *
    sum x ln x - ln(X_g/n_g), computed over the DISTINCT word-count
    histogram (the value frame, <=few hundred rows per source — never
    a per-row float fold): counts and sums are exact longs, the
    sum x ln x folds SEQUENTIALLY over the value-sorted array, global
    N and X are integer window sums (order-independent), and every
    emitted float is a fixed per-row expression — no cross-row float
    reduction anywhere. _r6 absorbs libm ln ULP skew. At 10^12 docs
    the histogram IS the aggregate; the corpus is scanned once."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", "")) + 1
        ).cast("long").alias("__w"),
    )
    vals = d.groupBy("source", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    g = vals.groupBy("source").agg(
        F.sum("__n").cast("long").alias("n_docs"),
        F.sum(F.col("__n") * F.col("__w")).cast("long").alias("sum_words"),
        F.array_sort(F.collect_list(F.struct("__w", "__n"))).alias("__a"),
    )
    sxlx = F.expr(
        "aggregate(__a, 0.0D, (acc, x) -> acc +"
        " cast(x.__n as double) * cast(x.__w as double)"
        " * ln(cast(x.__w as double)))"
    )
    g = g.withColumn("__sxlx", sxlx)
    wall = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = g.withColumn("__N", F.sum("n_docs").over(wall)).withColumn(
        "__X", F.sum("sum_words").over(wall)
    )
    tg = (
        F.col("__sxlx") / F.col("sum_words").cast("double")
        - F.log(
            F.col("sum_words").cast("double") / F.col("n_docs").cast("double")
        )
    )
    sg = F.col("sum_words").cast("double") / F.col("__X").cast("double")
    between = sg * F.log(
        (F.col("sum_words").cast("double") / F.col("__X").cast("double"))
        / (F.col("n_docs").cast("double") / F.col("__N").cast("double"))
    )
    return g.select(
        "source",
        "n_docs",
        "sum_words",
        _r6(sg).alias("word_share"),
        _r6(tg).alias("theil_within"),
        _r6(between).alias("between_term"),
        _r6(sg * tg + between).alias("contribution"),
    )


SQL_THEIL_INDEX = """
WITH d AS (
  SELECT source,
    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
      AS w
  FROM documents
), vals AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY source, w
), g AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
    CAST(sum(n*w) AS BIGINT) AS sum_words,
    list_sum(list(n::DOUBLE * w::DOUBLE * ln(w::DOUBLE) ORDER BY w))
      AS sxlx
  FROM vals GROUP BY source
), t AS (
  SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS nn,
    CAST(sum(sum_words) OVER () AS BIGINT) AS xx
  FROM g
)
SELECT source, n_docs, sum_words,
  round(CAST(sum_words AS DOUBLE) / CAST(xx AS DOUBLE), 6)
    AS word_share,
  round(sxlx / CAST(sum_words AS DOUBLE)
        - ln(CAST(sum_words AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
    AS theil_within,
  round((CAST(sum_words AS DOUBLE) / CAST(xx AS DOUBLE))
        * ln((CAST(sum_words AS DOUBLE) / CAST(xx AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE))), 6)
    AS between_term,
  round((CAST(sum_words AS DOUBLE) / CAST(xx AS DOUBLE))
        * (sxlx / CAST(sum_words AS DOUBLE)
           - ln(CAST(sum_words AS DOUBLE) / CAST(n_docs AS DOUBLE)))
        + (CAST(sum_words AS DOUBLE) / CAST(xx AS DOUBLE))
        * ln((CAST(sum_words AS DOUBLE) / CAST(xx AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE))), 6)
    AS contribution
FROM t
"""

QUERIES["theil_index"] = q_theil_index
_RAW_ORACLES["theil_index"] = SQL_THEIL_INDEX


def q_anova_twoway(spark, sf_dir):
    """Two-way variance decomposition of purchase value over hour-of-
    day x day-of-week (Fisher's ANOVA in the cell-means form; for the
    unbalanced counts the interaction term is the hierarchical
    SS_cells - SS_hour - SS_dow, i.e. sequential/Type-I-style — the
    seasonality-strength audit that says whether a value model needs
    hour, weekday, or their interaction as features, read off as
    eta-squared shares). EVERYTHING derives from ONE corpus aggregate
    to the <=168-cell (hour, dow) frame of exact integer (n, sum,
    sum-of-squares): marginal hour/dow totals are integer regroups of
    the cell frame, each SS is a difference of exact-ratio doubles
    via a fixed expression tree, and no float ever crosses a shuffle
    — gate EXACT with zero rounding. At 10^12 rows the cell frame is
    still 168 rows."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.hour(F.col("ts").cast("timestamp")).cast("long").alias("__h"),
        F.dayofweek(F.col("ts").cast("timestamp")).cast("long")
        .alias("__d"),
        (
            F.signum("value") * F.floor(F.abs(F.col("value")) * 100
                                        + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    cells = ev.groupBy("__h", "__d").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__c").cast("long").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__q"),
    )
    from mpds_spark.operators.util import scratch_persist

    cells = scratch_persist(cells)

    def ss_of(df, keys):
        # sum over groups of s_g^2 / n_g (exact longs -> one division
        # each, order-pinned by folding over the key-sorted array)
        gg = df.groupBy(*keys).agg(
            F.sum("__n").cast("long").alias("n"),
            F.sum("__s").cast("long").alias("s"),
        )
        return gg.agg(
            F.array_sort(
                F.collect_list(F.struct(*keys, "n", "s"))
            ).alias("arr")
        ).select(
            F.expr(
                "aggregate(arr, 0.0D, (acc, x) -> acc +"
                " cast(x.s as double) * cast(x.s as double)"
                " / cast(x.n as double))"
            ).alias("v")
        )

    tot = cells.agg(
        F.sum("__n").cast("long").alias("__nn"),
        F.sum("__s").cast("long").alias("__ss"),
        F.sum("__q").cast("long").alias("__qq"),
    )
    sc = ss_of(cells, ["__h", "__d"]).select(F.col("v").alias("__vc"))
    sh = ss_of(cells, ["__h"]).select(F.col("v").alias("__vh"))
    sd = ss_of(cells, ["__d"]).select(F.col("v").alias("__vd"))
    one = (
        tot.join(F.broadcast(sc))
        .join(F.broadcast(sh))
        .join(F.broadcast(sd))
    )
    cm = (
        F.col("__ss").cast("double") * F.col("__ss").cast("double")
        / F.col("__nn").cast("double")
    )
    ss_total = F.col("__qq").cast("double") - cm
    ss_cells = F.col("__vc") - cm
    ss_hour = F.col("__vh") - cm
    ss_dow = F.col("__vd") - cm
    ss_inter = ss_cells - ss_hour - ss_dow
    ss_within = ss_total - ss_cells
    return one.select(
        F.col("__nn").alias("n_purchases"),
        (ss_total / F.lit(10000.0)).alias("ss_total"),
        (ss_hour / F.lit(10000.0)).alias("ss_hour"),
        (ss_dow / F.lit(10000.0)).alias("ss_dow"),
        (ss_inter / F.lit(10000.0)).alias("ss_interaction"),
        (ss_within / F.lit(10000.0)).alias("ss_within"),
        (ss_hour / ss_total).alias("eta2_hour"),
        (ss_dow / ss_total).alias("eta2_dow"),
        (ss_inter / ss_total).alias("eta2_interaction"),
    )


SQL_ANOVA_TWOWAY = """
WITH ev AS (
  SELECT hour(ts) AS h, dayofweek(ts) + 1 AS d,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
), cells AS (
  SELECT h, d, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c*c) AS BIGINT) AS q
  FROM ev GROUP BY h, d
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
    CAST(sum(q) AS BIGINT) AS qq
  FROM cells
), vc AS (
  SELECT list_sum(list(s::DOUBLE * s::DOUBLE / n::DOUBLE
    ORDER BY h, d)) AS v
  FROM cells
), vh AS (
  SELECT list_sum(list(s::DOUBLE * s::DOUBLE / n::DOUBLE ORDER BY h))
    AS v
  FROM (SELECT h, CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(s) AS BIGINT) AS s FROM cells GROUP BY h)
), vd AS (
  SELECT list_sum(list(s::DOUBLE * s::DOUBLE / n::DOUBLE ORDER BY d))
    AS v
  FROM (SELECT d, CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(s) AS BIGINT) AS s FROM cells GROUP BY d)
), f AS (
  SELECT nn,
    qq::DOUBLE - ss::DOUBLE * ss::DOUBLE / nn::DOUBLE AS sst,
    vc.v - ss::DOUBLE * ss::DOUBLE / nn::DOUBLE AS ssc,
    vh.v - ss::DOUBLE * ss::DOUBLE / nn::DOUBLE AS ssh,
    vd.v - ss::DOUBLE * ss::DOUBLE / nn::DOUBLE AS ssd
  FROM tot, vc, vh, vd
)
SELECT nn AS n_purchases,
  sst / 10000.0 AS ss_total,
  ssh / 10000.0 AS ss_hour,
  ssd / 10000.0 AS ss_dow,
  (ssc - ssh - ssd) / 10000.0 AS ss_interaction,
  (sst - ssc) / 10000.0 AS ss_within,
  ssh / sst AS eta2_hour,
  ssd / sst AS eta2_dow,
  (ssc - ssh - ssd) / sst AS eta2_interaction
FROM f
"""

QUERIES["anova_twoway"] = q_anova_twoway
_RAW_ORACLES["anova_twoway"] = SQL_ANOVA_TWOWAY


def q_hurst_variance_plot(spark, sf_dir):
    """Hurst exponent of the per-user event-value stream via the
    aggregated-variance method (Beran 1994, "Statistics for Long-
    Memory Processes"; Taqqu, Teverovsky & Willinger 1995 for the
    estimator): pool block means at block sizes m in {1,2,4,8} over
    every user's ts-ordered series, regress log2 Var(mean_m) on
    log2 m — slope beta estimates 2H-2, H = 1 + beta/2. H ~ 0.5 is
    memoryless spending, H -> 1 long-range-dependent sessions — the
    self-similarity feature that decides whether naive sqrt(n) CI
    scaling is valid for the metric at all.

    Exactness discipline: block sums are exact longs, so
    sum of block-mean squares = (sum s^2) / m^2 keeps an exact
    integer numerator (max |s| ~ 8 * max cents keeps sum s^2 well
    under 2^53 at sf0.1); each Var(m) is a fixed expression of exact
    longs; the 4-point least-squares slope is a fixed tree over the 4
    variances. The block roll-up is a log-depth hierarchy (m=2 blocks
    aggregate m=1 rows, m=4 aggregates m=2, ...), exactly the at-
    scale shape; trailing partial blocks drop (count == m only)."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("__t"),
        "event_id",
        (
            F.signum("value") * F.floor(F.abs(F.col("value")) * 100
                                        + F.lit(0.5))
        ).cast("long").alias("__c"),
    )
    from mpds_spark.operators.util import scratch_persist

    w = Window.partitionBy("user_id").orderBy("__t", "event_id")
    base = scratch_persist(ev.select(
        "user_id",
        (F.row_number().over(w) - 1).alias("__i"),
        F.col("__c").alias("__s"),
    ))

    levels = {}
    cur = base
    m = 1
    for lvl in range(4):  # m = 1, 2, 4, 8
        if lvl > 0:
            # each level is scanned twice (its own moment agg + the next
            # roll-up) — persist so the corpus window runs ONCE
            cur = scratch_persist(
                cur.groupBy(
                    "user_id",
                    (F.col("__i") / 2).cast("long").alias("__i2"),
                )
                .agg(
                    F.sum("__s").cast("long").alias("__s"),
                    F.count(F.lit(1)).alias("__k"),
                )
                .filter(F.col("__k") == 2)
                .select("user_id", F.col("__i2").alias("__i"), "__s")
            )
        levels[m] = cur.agg(
            F.count(F.lit(1)).cast("long").alias(f"b{m}"),
            F.sum("__s").cast("long").alias(f"t{m}"),
            F.sum(F.col("__s") * F.col("__s")).cast("long")
            .alias(f"u{m}"),
        )
        m *= 2
    one = levels[1]
    for mm in (2, 4, 8):
        one = one.join(F.broadcast(levels[mm]))

    def var(mm):
        b = F.col(f"b{mm}").cast("double")
        t = F.col(f"t{mm}").cast("double")
        u = F.col(f"u{mm}").cast("double")
        md = float(mm)
        # Var of block means: (sum s^2/m^2 - (sum s/m)^2 / B) / (B-1)
        return (
            (u / F.lit(md * md) - (t / F.lit(md)) * (t / F.lit(md)) / b)
            / (b - F.lit(1.0))
        )

    lv = {mm: F.log2(var(mm)) for mm in (1, 2, 4, 8)}
    xs = [0.0, 1.0, 2.0, 3.0]
    xbar = sum(xs) / 4.0  # 1.5
    sxx = sum((x - xbar) ** 2 for x in xs)  # 5.0
    ybar = (lv[1] + lv[2] + lv[4] + lv[8]) / F.lit(4.0)
    slope = (
        (lv[1] - ybar) * F.lit(0.0 - xbar)
        + (lv[2] - ybar) * F.lit(1.0 - xbar)
        + (lv[4] - ybar) * F.lit(2.0 - xbar)
        + (lv[8] - ybar) * F.lit(3.0 - xbar)
    ) / F.lit(sxx)
    return one.select(
        F.col("b1").alias("n_events"),
        _r6(var(1) / F.lit(10000.0)).alias("var_m1"),
        _r6(var(2) / F.lit(10000.0)).alias("var_m2"),
        _r6(var(4) / F.lit(10000.0)).alias("var_m4"),
        _r6(var(8) / F.lit(10000.0)).alias("var_m8"),
        _r6(slope).alias("slope"),
        _r6(F.lit(1.0) + slope / F.lit(2.0)).alias("hurst"),
    )


SQL_HURST_VARIANCE_PLOT = """
WITH ev AS (
  SELECT user_id,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch(ts), event_id) - 1 AS i,
    CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT) AS s
  FROM events
), l2 AS (
  SELECT user_id, i // 2 AS i, CAST(sum(s) AS BIGINT) AS s
  FROM ev GROUP BY user_id, i // 2 HAVING count(*) = 2
), l4 AS (
  SELECT user_id, i // 2 AS i, CAST(sum(s) AS BIGINT) AS s
  FROM l2 GROUP BY user_id, i // 2 HAVING count(*) = 2
), l8 AS (
  SELECT user_id, i // 2 AS i, CAST(sum(s) AS BIGINT) AS s
  FROM l4 GROUP BY user_id, i // 2 HAVING count(*) = 2
), a1 AS (
  SELECT CAST(count(*) AS BIGINT) AS b, CAST(sum(s) AS BIGINT) AS t,
    CAST(sum(s*s) AS BIGINT) AS u FROM ev
), a2 AS (
  SELECT CAST(count(*) AS BIGINT) AS b, CAST(sum(s) AS BIGINT) AS t,
    CAST(sum(s*s) AS BIGINT) AS u FROM l2
), a4 AS (
  SELECT CAST(count(*) AS BIGINT) AS b, CAST(sum(s) AS BIGINT) AS t,
    CAST(sum(s*s) AS BIGINT) AS u FROM l4
), a8 AS (
  SELECT CAST(count(*) AS BIGINT) AS b, CAST(sum(s) AS BIGINT) AS t,
    CAST(sum(s*s) AS BIGINT) AS u FROM l8
), v AS (
  SELECT a1.b AS n_events,
    (a1.u::DOUBLE / 1.0 - (a1.t::DOUBLE / 1.0)*(a1.t::DOUBLE / 1.0)
       / a1.b::DOUBLE) / (a1.b::DOUBLE - 1.0) AS v1,
    (a2.u::DOUBLE / 4.0 - (a2.t::DOUBLE / 2.0)*(a2.t::DOUBLE / 2.0)
       / a2.b::DOUBLE) / (a2.b::DOUBLE - 1.0) AS v2,
    (a4.u::DOUBLE / 16.0 - (a4.t::DOUBLE / 4.0)*(a4.t::DOUBLE / 4.0)
       / a4.b::DOUBLE) / (a4.b::DOUBLE - 1.0) AS v4,
    (a8.u::DOUBLE / 64.0 - (a8.t::DOUBLE / 8.0)*(a8.t::DOUBLE / 8.0)
       / a8.b::DOUBLE) / (a8.b::DOUBLE - 1.0) AS v8
  FROM a1, a2, a4, a8
), s AS (
  SELECT n_events, v1, v2, v4, v8,
    (log2(v1) + log2(v2) + log2(v4) + log2(v8)) / 4.0 AS ybar
  FROM v
), f AS (
  SELECT n_events, v1, v2, v4, v8,
    ((log2(v1) - ybar) * (0.0 - 1.5)
     + (log2(v2) - ybar) * (1.0 - 1.5)
     + (log2(v4) - ybar) * (2.0 - 1.5)
     + (log2(v8) - ybar) * (3.0 - 1.5)) / 5.0 AS slope
  FROM s
)
SELECT n_events,
  round(v1 / 10000.0, 6) AS var_m1,
  round(v2 / 10000.0, 6) AS var_m2,
  round(v4 / 10000.0, 6) AS var_m4,
  round(v8 / 10000.0, 6) AS var_m8,
  round(slope, 6) AS slope,
  round(1.0 + slope / 2.0, 6) AS hurst
FROM f
"""

QUERIES["hurst_variance_plot"] = q_hurst_variance_plot
_RAW_ORACLES["hurst_variance_plot"] = SQL_HURST_VARIANCE_PLOT


def q_logrank_test(spark, sf_dir):
    """Two-arm log-rank test (Mantel 1966; Peto & Peto 1972) of
    inter-purchase gap-time curves between md5-parity arms — the
    survival-curve companion to srm_check/did_estimate: arms are
    hash-random, so the expected chi-square is ~1 and a large value
    flags a broken assignment or a gap metric leaking the arm.
    Survival variable: each user's consecutive purchase gaps
    (completed gap = event; the final open gap, last purchase ->
    corpus end, is right-censored), hour bins — the recurrent-event
    gap-time pooling (within-user correlation caveat per
    Andersen & Gill 1982 noted; as an assignment AUDIT the hash
    randomization makes the null exact). The whole test reduces to
    the per-hour-bin curve frame: deaths/censored per (bin, arm) are
    exact longs, at-risk counts are integer suffix sums over the
    <=720-row bin frame, the hypergeometric O-E and variance terms
    fold SEQUENTIALLY in bin order (each term a fixed expression of
    exact longs), and chi2 = one final division. At 10^12 events
    only the binned curve crosses the global window."""
    d = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("user_id").alias("__e"),
        F.col("ts").cast("timestamp").cast("double").alias("__t"),
        "event_id",
    )
    mx = _events(spark, sf_dir).agg(
        F.max(F.col("ts").cast("timestamp").cast("double")).alias("__mx")
    )
    wlead = Window.partitionBy("__e").orderBy("__t", "event_id")
    g = d.withColumn("__nxt", F.lead("__t").over(wlead)).join(
        F.broadcast(mx)
    )
    sv = g.select(
        F.floor(
            (F.coalesce(F.col("__nxt"), F.col("__mx")) - F.col("__t"))
            / F.lit(3600.0)
        ).cast("long").alias("__day"),
        F.when(F.col("__nxt").isNotNull(), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("__obs"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("lr|"),
                                   F.col("__e").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long") % 2
        ).alias("__arm"),
    )
    curve = sv.groupBy("__day").agg(
        F.sum(F.when(F.col("__arm") == 1, F.col("__obs")).otherwise(0))
        .cast("long").alias("__d1"),
        F.sum(F.when(F.col("__arm") == 1, 1 - F.col("__obs")).otherwise(0))
        .cast("long").alias("__c1"),
        F.sum(F.when(F.col("__arm") == 0, F.col("__obs")).otherwise(0))
        .cast("long").alias("__d0"),
        F.sum(F.when(F.col("__arm") == 0, 1 - F.col("__obs")).otherwise(0))
        .cast("long").alias("__c0"),
    )
    wall = Window.orderBy("__day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tall = Window.orderBy("__day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curve = curve.select(
        "*",
        (
            F.sum(F.col("__d1") + F.col("__c1")).over(tall)
            - F.coalesce(
                F.sum(F.col("__d1") + F.col("__c1")).over(wall), F.lit(0)
            )
        ).cast("long").alias("__n1"),
        (
            F.sum(
                F.col("__d1") + F.col("__c1") + F.col("__d0") + F.col("__c0")
            ).over(tall)
            - F.coalesce(
                F.sum(
                    F.col("__d1") + F.col("__c1")
                    + F.col("__d0") + F.col("__c0")
                ).over(wall),
                F.lit(0),
            )
        ).cast("long").alias("__nt"),
    )
    agg = curve.agg(
        F.sum("__d1").cast("long").alias("obs_deaths_arm1"),
        F.sum("__d0").cast("long").alias("obs_deaths_arm0"),
        F.array_sort(
            F.collect_list(
                F.struct("__day", "__d1", "__d0", "__n1", "__nt")
            )
        ).alias("__a"),
    )
    oe = F.expr(
        "aggregate(__a, 0.0D, (acc, x) -> acc + (CASE WHEN"
        " x.__d1 + x.__d0 > 0 THEN cast(x.__d1 as double)"
        " - cast(x.__d1 + x.__d0 as double) * cast(x.__n1 as double)"
        " / cast(x.__nt as double) ELSE 0.0D END))"
    )
    vv = F.expr(
        "aggregate(__a, 0.0D, (acc, x) -> acc + (CASE WHEN"
        " x.__d1 + x.__d0 > 0 AND x.__nt > 1 THEN"
        " cast(x.__d1 + x.__d0 as double)"
        " * (cast(x.__n1 as double) / cast(x.__nt as double))"
        " * (cast(x.__nt - x.__n1 as double) / cast(x.__nt as double))"
        " * (cast(x.__nt - x.__d1 - x.__d0 as double)"
        "    / cast(x.__nt - 1 as double)) ELSE 0.0D END))"
    )
    agg = agg.withColumn("__oe", oe).withColumn("__v", vv)
    return agg.select(
        "obs_deaths_arm1",
        "obs_deaths_arm0",
        _r6(F.col("obs_deaths_arm1") - F.col("__oe"))
        .alias("expected_deaths_arm1"),
        _r6("__oe").alias("o_minus_e"),
        _r6("__v").alias("variance"),
        _r6(F.col("__oe") * F.col("__oe") / F.col("__v")).alias("chi2"),
    )


SQL_LOGRANK_TEST = """
WITH mx AS (SELECT max(epoch(ts)) AS mx FROM events),
d AS (
  SELECT user_id AS e, epoch(ts) AS t,
    lead(epoch(ts)) OVER (PARTITION BY user_id
                          ORDER BY epoch(ts), event_id) AS nxt
  FROM events WHERE event_type = 'purchase'
),
sv AS (
  SELECT CAST(floor((coalesce(nxt, (SELECT mx FROM mx)) - t) / 3600.0)
              AS BIGINT) AS day,
    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS obs,
    CAST(('0x' || substring(md5('lr|' || CAST(e AS VARCHAR)), 1, 15))
      ::UBIGINT % 2 AS BIGINT) AS arm
  FROM d
), curve AS (
  SELECT day,
    CAST(sum(CASE WHEN arm = 1 THEN obs ELSE 0 END) AS BIGINT) AS d1,
    CAST(sum(CASE WHEN arm = 1 THEN 1 - obs ELSE 0 END) AS BIGINT)
      AS c1,
    CAST(sum(CASE WHEN arm = 0 THEN obs ELSE 0 END) AS BIGINT) AS d0,
    CAST(sum(CASE WHEN arm = 0 THEN 1 - obs ELSE 0 END) AS BIGINT)
      AS c0
  FROM sv GROUP BY day
), risk AS (
  SELECT day, d1, d0,
    CAST((SELECT sum(d1 + c1) FROM curve)
      - coalesce(sum(d1 + c1) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n1,
    CAST((SELECT sum(d1 + c1 + d0 + c0) FROM curve)
      - coalesce(sum(d1 + c1 + d0 + c0) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS nt
  FROM curve
), f AS (
  SELECT CAST(sum(d1) AS BIGINT) AS obs1,
    CAST(sum(d0) AS BIGINT) AS obs0,
    list_sum(list(CASE WHEN d1 + d0 > 0 THEN d1::DOUBLE
      - (d1 + d0)::DOUBLE * n1::DOUBLE / nt::DOUBLE
      ELSE 0.0 END ORDER BY day)) AS oe,
    list_sum(list(CASE WHEN d1 + d0 > 0 AND nt > 1 THEN
      (d1 + d0)::DOUBLE * (n1::DOUBLE / nt::DOUBLE)
      * ((nt - n1)::DOUBLE / nt::DOUBLE)
      * ((nt - d1 - d0)::DOUBLE / (nt - 1)::DOUBLE)
      ELSE 0.0 END ORDER BY day)) AS v
  FROM risk
)
SELECT obs1 AS obs_deaths_arm1, obs0 AS obs_deaths_arm0,
  round(obs1 - oe, 6) AS expected_deaths_arm1,
  round(oe, 6) AS o_minus_e,
  round(v, 6) AS variance,
  round(oe * oe / v, 6) AS chi2
FROM f
"""

QUERIES["logrank_test"] = q_logrank_test
_RAW_ORACLES["logrank_test"] = SQL_LOGRANK_TEST


def q_segmented_trend(spark, sf_dir):
    """Best single-breakpoint two-piece linear trend of daily event
    volume (segmented/piecewise regression with the break chosen by
    least squares — Quandt 1958's likelihood-ratio formulation,
    Bai & Perron 1998 for the general program; the changepoint
    complement to cusum_changepoint that returns the fitted TREND
    LINES, not just the shift day): for every candidate break b with
    >= 3 days each side, fit separate OLS lines to daily counts on
    [1..b] and (b..D], pick the b minimizing total SSE (smallest-b
    tie-break), and report both slopes plus the single-line fit and
    the SSE reduction share. All OLS moments (n, Sx, Sy, Sxy, Sxx,
    Syy per side) are exact-integer prefix/suffix sums over the
    <=31-row day frame — the corpus is touched ONCE by the day
    aggregate; every SSE is a fixed expression tree; argmin via
    min(struct(sse, b)) on deterministic doubles. At 10^12 rows the
    candidate scan is still a 31-row frame."""
    ev = _events(spark, sf_dir).select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("long")
        .alias("__x")
    )
    day = ev.groupBy("__x").agg(
        F.count(F.lit(1)).cast("long").alias("__y")
    )
    wcum = Window.orderBy("__x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tall = Window.orderBy("__x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = day.select(
        F.col("__x").alias("b"),
        F.count(F.lit(1)).over(wcum).cast("long").alias("nl"),
        F.sum("__x").over(wcum).cast("long").alias("sxl"),
        F.sum("__y").over(wcum).cast("long").alias("syl"),
        F.sum(F.col("__x") * F.col("__y")).over(wcum).cast("long")
        .alias("sxyl"),
        F.sum(F.col("__x") * F.col("__x")).over(wcum).cast("long")
        .alias("sxxl"),
        F.sum(F.col("__y") * F.col("__y")).over(wcum).cast("long")
        .alias("syyl"),
        F.count(F.lit(1)).over(tall).cast("long").alias("nt"),
        F.sum("__x").over(tall).cast("long").alias("sxt"),
        F.sum("__y").over(tall).cast("long").alias("syt"),
        F.sum(F.col("__x") * F.col("__y")).over(tall).cast("long")
        .alias("sxyt"),
        F.sum(F.col("__x") * F.col("__x")).over(tall).cast("long")
        .alias("sxxt"),
        F.sum(F.col("__y") * F.col("__y")).over(tall).cast("long")
        .alias("syyt"),
    ).filter(
        (F.col("nl") >= 3) & (F.col("nt") - F.col("nl") >= 3)
    )

    def sse(n, sx, sy, sxy, sxx, syy):
        nd = n.cast("double")
        sxd, syd = sx.cast("double"), sy.cast("double")
        sxyd, sxxd, syyd = (sxy.cast("double"), sxx.cast("double"),
                            syy.cast("double"))
        sxx_c = sxxd - sxd * sxd / nd
        sxy_c = sxyd - sxd * syd / nd
        syy_c = syyd - syd * syd / nd
        return syy_c - sxy_c * sxy_c / sxx_c

    def slope(n, sx, sy, sxy, sxx):
        nd = n.cast("double")
        return (sxy.cast("double") - sx.cast("double") * sy.cast("double")
                / nd) / (sxx.cast("double")
                         - sx.cast("double") * sx.cast("double") / nd)

    nr = F.col("nt") - F.col("nl")
    sxr = F.col("sxt") - F.col("sxl")
    syr = F.col("syt") - F.col("syl")
    sxyr = F.col("sxyt") - F.col("sxyl")
    sxxr = F.col("sxxt") - F.col("sxxl")
    syyr = F.col("syyt") - F.col("syyl")
    sse_l = sse(F.col("nl"), F.col("sxl"), F.col("syl"), F.col("sxyl"),
                F.col("sxxl"), F.col("syyl"))
    sse_r = sse(nr, sxr, syr, sxyr, sxxr, syyr)
    sse0 = sse(F.col("nt"), F.col("sxt"), F.col("syt"), F.col("sxyt"),
               F.col("sxxt"), F.col("syyt"))
    cand = c.select(
        "b",
        (sse_l + sse_r).alias("__sse"),
        slope(F.col("nl"), F.col("sxl"), F.col("syl"), F.col("sxyl"),
              F.col("sxxl")).alias("__sll"),
        slope(nr, sxr, syr, sxyr, sxxr).alias("__slr"),
        sse0.alias("__sse0"),
    )
    best = cand.agg(
        F.min(F.struct(F.col("__sse"), F.col("b"), F.col("__sll"),
                       F.col("__slr"), F.col("__sse0"))).alias("w")
    )
    return best.select(
        F.col("w.b").alias("break_day"),
        _r6(F.col("w.__sll")).alias("slope_left"),
        _r6(F.col("w.__slr")).alias("slope_right"),
        _r6(F.col("w.__sse")).alias("sse_two_piece"),
        _r6(F.col("w.__sse0")).alias("sse_single_line"),
        _r6((F.col("w.__sse0") - F.col("w.__sse")) / F.col("w.__sse0"))
        .alias("sse_reduction"),
    )


SQL_SEGMENTED_TREND = """
WITH day AS (
  SELECT CAST(day(ts) AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
), c AS (
  SELECT x AS b,
    CAST(count(*) OVER w AS BIGINT) AS nl,
    CAST(sum(x) OVER w AS BIGINT) AS sxl,
    CAST(sum(y) OVER w AS BIGINT) AS syl,
    CAST(sum(x*y) OVER w AS BIGINT) AS sxyl,
    CAST(sum(x*x) OVER w AS BIGINT) AS sxxl,
    CAST(sum(y*y) OVER w AS BIGINT) AS syyl,
    CAST(count(*) OVER t AS BIGINT) AS nt,
    CAST(sum(x) OVER t AS BIGINT) AS sxt,
    CAST(sum(y) OVER t AS BIGINT) AS syt,
    CAST(sum(x*y) OVER t AS BIGINT) AS sxyt,
    CAST(sum(x*x) OVER t AS BIGINT) AS sxxt,
    CAST(sum(y*y) OVER t AS BIGINT) AS syyt
  FROM day
  WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW),
         t AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING)
), f AS (
  SELECT b,
    ((syyl::DOUBLE - syl::DOUBLE*syl::DOUBLE/nl::DOUBLE)
     - (sxyl::DOUBLE - sxl::DOUBLE*syl::DOUBLE/nl::DOUBLE)
       * (sxyl::DOUBLE - sxl::DOUBLE*syl::DOUBLE/nl::DOUBLE)
       / (sxxl::DOUBLE - sxl::DOUBLE*sxl::DOUBLE/nl::DOUBLE))
    + (((syyt-syyl)::DOUBLE
        - (syt-syl)::DOUBLE*(syt-syl)::DOUBLE/(nt-nl)::DOUBLE)
     - ((sxyt-sxyl)::DOUBLE
        - (sxt-sxl)::DOUBLE*(syt-syl)::DOUBLE/(nt-nl)::DOUBLE)
       * ((sxyt-sxyl)::DOUBLE
          - (sxt-sxl)::DOUBLE*(syt-syl)::DOUBLE/(nt-nl)::DOUBLE)
       / ((sxxt-sxxl)::DOUBLE
          - (sxt-sxl)::DOUBLE*(sxt-sxl)::DOUBLE/(nt-nl)::DOUBLE))
      AS sse,
    (sxyl::DOUBLE - sxl::DOUBLE*syl::DOUBLE/nl::DOUBLE)
      / (sxxl::DOUBLE - sxl::DOUBLE*sxl::DOUBLE/nl::DOUBLE) AS sll,
    ((sxyt-sxyl)::DOUBLE
       - (sxt-sxl)::DOUBLE*(syt-syl)::DOUBLE/(nt-nl)::DOUBLE)
      / ((sxxt-sxxl)::DOUBLE
         - (sxt-sxl)::DOUBLE*(sxt-sxl)::DOUBLE/(nt-nl)::DOUBLE)
      AS slr,
    ((syyt::DOUBLE - syt::DOUBLE*syt::DOUBLE/nt::DOUBLE)
     - (sxyt::DOUBLE - sxt::DOUBLE*syt::DOUBLE/nt::DOUBLE)
       * (sxyt::DOUBLE - sxt::DOUBLE*syt::DOUBLE/nt::DOUBLE)
       / (sxxt::DOUBLE - sxt::DOUBLE*sxt::DOUBLE/nt::DOUBLE)) AS sse0
  FROM c WHERE nl >= 3 AND nt - nl >= 3
)
SELECT b AS break_day,
  round(sll, 6) AS slope_left,
  round(slr, 6) AS slope_right,
  round(sse, 6) AS sse_two_piece,
  round(sse0, 6) AS sse_single_line,
  round((sse0 - sse) / sse0, 6) AS sse_reduction
FROM f ORDER BY sse, b LIMIT 1
"""

QUERIES["segmented_trend"] = q_segmented_trend
_RAW_ORACLES["segmented_trend"] = SQL_SEGMENTED_TREND


# rewritten once, after every registration above
ORACLES = {k: _rewrite_rounds(v) for k, v in _RAW_ORACLES.items()}
