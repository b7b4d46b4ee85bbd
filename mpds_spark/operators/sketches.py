"""Distributed mergeable sketches: HyperLogLog cardinality and
Count-Min frequency, with exact-side audits.

These are the two primitives a 100-TB profiling pass actually runs:
approximate COUNT(DISTINCT) and approximate heavy-hitter frequencies in
ONE streaming-mergeable aggregation each. Both sketches here are exact
cross-engine reproducible — registers/counters are deterministic
functions of md5 (the engine-portable hash the dedup stack already
uses, operators/dedup.py:157), so the DuckDB oracle rebuilds the
identical sketch and the value gate is EXACT, not approximate.

Mergeability is by construction, which is the scale story: HLL
registers are a (group, bucket)-keyed MAX and Count-Min cells a
(row, bucket)-keyed SUM — Spark's partial aggregation merges partition
sketches map-side exactly the way multi-day sketch rollups merge
(max/sum of registers), no custom AggregateFunction needed.

HyperLogLog (Flajolet et al. 2007): h = top 60 bits of md5 (15 hex
chars — stays positive in BIGINT on both engines); bucket = top p bits,
rho = leading-zero rank of the remaining (60-p) bits computed via the
length of bin(r) — both engines print minimal binary strings, never
libm log2. Estimate = alpha_m * m^2 / sum(2^-M_j) with the standard
small-range linear-counting correction m*ln(m/V); the 2^-M terms are
exact powers of two folded in bucket-ascending order on both engines.
The large-range correction is omitted: with a 60-bit hash it engages at
~2^55 distinct keys, far past any audit this runs on (documented, not
silent).

Count-Min (Cormode & Muthukrishnan 2005): d salted md5 rows x w
buckets, exact long cell counts, point estimate = min over rows —
always an overcount, never under.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _h60(col, salt: str = "") -> "F.Column":
    """Top 60 bits of md5 as a non-negative long — identical on both
    engines (('0x' || substring(md5(x),1,15))::UBIGINT in DuckDB)."""
    s = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def hll_alpha(m: int) -> float:
    return _HLL_ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def _hll_fold(regs: DataFrame, gcols: list, m: int) -> DataFrame:
    """Fold a (group..., __bucket, __m) register frame to one row per
    group: buckets hit + the 2^-M sum over hit buckets in
    bucket-ascending order (exact powers of two; order-pinned)."""
    # SQL shiftleft: the python binding only takes a literal bit count
    term = F.lit(1.0) / F.expr("shiftleft(1L, __m)").cast("double")
    return regs.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("hll_buckets_hit"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__bucket").alias("b"), term.alias("t"))
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("__z_hit"),
    )


def _hll_estimate(m: int, alpha: float):
    """Estimate column over a _hll_fold frame (raw harmonic estimate
    with the linear-counting small-range correction)."""
    z = F.col("__z_hit") + (
        F.lit(m) - F.col("hll_buckets_hit")
    ).cast("double")
    raw = F.lit(alpha * m * m) / z
    v = F.lit(m) - F.col("hll_buckets_hit")
    return F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)


def hll_cardinality(
    df: DataFrame,
    key: str,
    group: str | None = None,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog distinct-count estimate of `key` (per `group` if
    given), audited against the exact distinct count.

    Two group-keyed aggregations (register build + exact distinct) and
    one tiny join; the register table is at most m=2^p rows per group
    regardless of input size — the mergeable 100-TB shape.

    Returns (group?, n_exact, hll_buckets_hit, hll_estimate, rel_err).
    """
    if not 4 <= int(p) <= 16:
        raise ValueError(f"p={p} outside [4, 16]")
    m = 1 << int(p)
    rbits = 60 - int(p)
    alpha = hll_alpha(m)
    gcols = [group] if group else []
    k = F.col(key).cast("string")
    # bucket via integer shift, never double division — a 60-bit hash is
    # not representable in a double, so h/2^52 would mis-bucket
    d = df.select(
        *gcols,
        F.shiftright(_h60(k), rbits).alias("__bucket"),
        (_h60(k) % F.lit(1 << rbits)).alias("__r"),
    ).withColumn(
        "__rho",
        F.when(F.col("__r") == 0, F.lit(rbits + 1)).otherwise(
            F.lit(rbits + 1) - F.length(F.bin(F.col("__r")))
        ),
    )
    regs = d.groupBy(*gcols, "__bucket").agg(
        F.max("__rho").alias("__m")
    )
    folded = _hll_fold(regs, gcols, m)
    est = _hll_estimate(m, alpha)
    exact = df.groupBy(*gcols).agg(
        F.count_distinct(F.col(key)).cast("long").alias("n_exact")
    )
    joined = (
        exact.join(folded, gcols) if gcols else exact.crossJoin(folded)
    )
    rel = (est - F.col("n_exact").cast("double")) / F.col(
        "n_exact"
    ).cast("double")
    return joined.select(
        *gcols,
        "n_exact",
        "hll_buckets_hit",
        est.alias("hll_estimate"),
        rel.alias("rel_err"),
    )


def countmin_estimates(
    df: DataFrame,
    key: str,
    d: int = 4,
    w: int = 256,
    k: int = 20,
) -> DataFrame:
    """Count-Min point estimates for the exact top-k keys: build the
    d x w exact-count cell table in ONE exploded aggregation, take the
    exact top-k (TakeOrdered — never a global sort), and read each
    key's estimate as the min over its d cells via a broadcast-sized
    join on the (row, bucket) cell key.

    Returns (key, n_exact, cm_estimate, overcount) — overcount >= 0 by
    the sketch's one-sided guarantee (asserted in tests).
    """
    kc = F.col(key).cast("string")
    cells = [
        F.struct(
            F.lit(i).alias("r"),
            (_h60(kc, f"{i}|") % F.lit(int(w))).alias("b"),
        )
        for i in range(int(d))
    ]
    cm = (
        df.select(F.explode(F.array(*cells)).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top = (
        df.groupBy(F.col(key).alias("__k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("__k"))
        .limit(int(k))
    )
    kt = F.col("__k").cast("string")
    probes = top.select(
        "__k",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        (_h60(kt, f"{i}|") % F.lit(int(w))).alias("b"),
                    )
                    for i in range(int(d))
                ]
            )
        ).alias("rb"),
    ).select(
        "__k", "n_exact", F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    )
    est = (
        probes.join(F.broadcast(cm), ["r", "b"])
        .groupBy("__k", "n_exact")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.select(
        F.col("__k").alias(key),
        "n_exact",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("n_exact")).alias("overcount"),
    )


def bloom_membership(
    ref: DataFrame,
    probe: DataFrame,
    key: str,
    m: int = 512,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter membership audit (Bloom 1970): build an m-bit
    filter over the reference key set with k salted md5 hash positions,
    probe every distinct probe key, and report the bloom verdict beside
    exact membership — false_positive marks the keys the filter would
    wrongly pass. This is the runtime-filter shape Spark itself uses to
    pre-prune the big side of a selective join: the position set is at
    most m rows and broadcasts regardless of reference size, and the
    per-key verdict is a broadcast join + count, never a shuffle of the
    probe stream.

    The filter is deterministic (md5 positions), so the DuckDB oracle
    rebuilds the identical bit set and the audit gates EXACT; the
    one-sided guarantee (no false NEGATIVES) is asserted in tests.

    Returns (key, bloom_positive, actual_member, false_positive) per
    distinct probe key.
    """
    if not (0 < int(k) <= 8 and 0 < int(m)):
        raise ValueError(f"bad bloom params m={m} k={k}")
    rk = ref.select(F.col(key).cast("string").alias("__k")).distinct()
    bits = (
        rk.select(
            F.explode(
                F.array(
                    *[
                        (_h60(F.col("__k"), f"{i}|") % F.lit(int(m))).alias(
                            f"p{i}"
                        )
                        for i in range(int(k))
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    pk = probe.select(F.col(key).cast("string").alias("__k")).distinct()
    probes = pk.select(
        "__k",
        F.explode(
            F.array(
                *[
                    (_h60(F.col("__k"), f"{i}|") % F.lit(int(m))).alias(
                        f"p{i}"
                    )
                    for i in range(int(k))
                ]
            )
        ).alias("pos"),
    )
    verdict = (
        probes.join(F.broadcast(bits), "pos", "left")
        .groupBy("__k")
        .agg(
            (
                F.sum(F.coalesce("__hit", F.lit(0))) == F.lit(int(k))
            ).alias("bloom_positive")
        )
    )
    actual = rk.withColumn("__act", F.lit(1))
    return (
        verdict.join(F.broadcast(actual), "__k", "left")
        .select(
            F.col("__k").alias(key),
            "bloom_positive",
            F.col("__act").isNotNull().alias("actual_member"),
            (
                F.col("bloom_positive") & F.col("__act").isNull()
            ).alias("false_positive"),
        )
    )


def hll_rolling_merge(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    window_days: int = 7,
    p: int = 8,
) -> DataFrame:
    """Trailing-window distinct-count estimates by MERGING daily
    HyperLogLog registers — the demonstration of why sketches win at
    100 TB: the trailing-7-day distinct-users series needs the raw
    stream scanned ONCE (daily registers), after which every window is
    a register-wise MAX over at most window_days * 2^p tiny rows; the
    exact twin must touch every (user, day) pair per window. Register
    max-merge is exactly how multi-day sketch rollups compose in
    production stores.

    The exact count is computed beside the estimate (audit convention);
    both sides explode each day's contribution to its <= window_days
    target days and aggregate — no per-window rescan of raw events.

    Returns one row per active day:
    (day, n_exact, hll_buckets_hit, hll_estimate, rel_err).
    """
    if not 4 <= int(p) <= 16:
        raise ValueError(f"p={p} outside [4, 16]")
    m = 1 << int(p)
    rbits = 60 - int(p)
    alpha = hll_alpha(m)
    w = int(window_days)
    k = F.col(key).cast("string")
    day = F.expr(
        f"unix_micros(cast({ts} as timestamp)) div 86400000000"
    )
    d = df.select(
        day.alias("__day"),
        F.shiftright(_h60(k), rbits).alias("__bucket"),
        (_h60(k) % F.lit(1 << rbits)).alias("__r"),
        F.col(key).alias("__key"),
    ).withColumn(
        "__rho",
        F.when(F.col("__r") == 0, F.lit(rbits + 1)).otherwise(
            F.lit(rbits + 1) - F.length(F.bin(F.col("__r")))
        ),
    )
    daily = d.groupBy("__day", "__bucket").agg(
        F.max("__rho").alias("__m")
    )
    active = d.select("__day").distinct()
    spread = daily.select(
        F.explode(
            F.sequence(
                F.col("__day"), F.col("__day") + F.lit(w - 1)
            )
        ).alias("day"),
        "__bucket",
        "__m",
    ).join(active.select(F.col("__day").alias("day")), "day", "left_semi")
    merged = spread.groupBy("day", "__bucket").agg(
        F.max("__m").alias("__m")
    )
    folded = _hll_fold(merged, ["day"], m)
    est = _hll_estimate(m, alpha)
    exact = (
        d.select("__day", "__key")
        .distinct()
        .select(
            F.explode(
                F.sequence(
                    F.col("__day"), F.col("__day") + F.lit(w - 1)
                )
            ).alias("day"),
            "__key",
        )
        .join(
            active.select(F.col("__day").alias("day")), "day", "left_semi"
        )
        .groupBy("day")
        .agg(F.count_distinct("__key").cast("long").alias("n_exact"))
    )
    rel = (est - F.col("n_exact").cast("double")) / F.col(
        "n_exact"
    ).cast("double")
    return exact.join(folded, "day").select(
        "day",
        "n_exact",
        "hll_buckets_hit",
        est.alias("hll_estimate"),
        rel.alias("rel_err"),
    )


def ams_f2(
    df: DataFrame,
    key: str = "key",
    n_estimators: int = 16,
    group_size: int = 4,
) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon, Matias & Szegedy, STOC
    1996): F2 = sum_k f_k^2 — the self-join size, the quantity the
    join-cardinality audit (validate.join_size_audit) estimates from
    per-key counts, here estimated WITHOUT any per-key state: each of
    `n_estimators` counters folds sign_j(x) in {-1,+1} over the raw
    stream (Y_j = sum_x f_x * sign_j(x), so E[Y_j^2] = F2), then the
    classic median-of-means over `group_size`-counter groups.

    Determinism: sign_j(x) = parity of the first md5 hex char of
    'ams{j}|{x}' — engine-portable like the HLL/Count-Min/Bloom hashes
    above; every Y_j is an exact long, every Y_j^2 an exact long, each
    group mean one exact power-of-two division, the median an explicit
    two-middle-element average. The exact F2 is computed beside the
    estimate from a per-key count pass, so the output audits the
    sketch's own relative error.

    Shape at scale: the sketch leg never holds per-key state — one
    n_estimators-way explode + a 16-group agg, mergeable across any
    partitioning (it IS the distributive-sketch shape); the exact leg
    is one key agg + one global agg. The two 1-row frames meet in a
    registered broadcast cross join.

    Returns ONE row (n_rows, f2_exact, f2_est, rel_err)."""
    sgn = (
        2 * (
            F.conv(F.substring(F.md5(F.col("__s")), 1, 1), 16, 10)
            .cast("long") % 2
        ) - 1
    )
    sk = (
        df.select(
            F.col(key).cast("string").alias("__k"),
            F.explode(
                F.sequence(F.lit(0), F.lit(int(n_estimators) - 1))
            ).alias("__j"),
        )
        .select(
            "__j",
            F.concat(
                F.lit("ams"), F.col("__j").cast("string"),
                F.lit("|"), F.col("__k"),
            ).alias("__s"),
        )
        .groupBy("__j")
        .agg(F.sum(sgn).cast("long").alias("__y"))
    )
    g = int(group_size)
    means = sk.groupBy((F.col("__j") / g).cast("int").alias("__g")).agg(
        (
            F.sum(F.col("__y") * F.col("__y")).cast("double") / F.lit(float(g))
        ).alias("__m")
    )
    est = means.agg(
        F.array_sort(F.collect_list("__m")).alias("__ms")
    ).select(
        F.expr(
            "(element_at(__ms, cast((size(__ms) + 1) div 2 as int))"
            " + element_at(__ms, cast((size(__ms) + 2) div 2 as int))) / 2.0"
        ).alias("f2_est")
    )
    exact = (
        df.groupBy(F.col(key))
        .agg(F.count(F.lit(1)).cast("long").alias("__f"))
        .agg(
            F.sum("__f").cast("long").alias("n_rows"),
            F.sum(F.col("__f") * F.col("__f")).cast("long").alias("f2_exact"),
        )
    )
    out = exact.crossJoin(F.broadcast(est))
    return out.select(
        "n_rows",
        "f2_exact",
        "f2_est",
        (
            (F.col("f2_est") - F.col("f2_exact").cast("double"))
            / F.col("f2_exact").cast("double")
        ).alias("rel_err"),
    )
