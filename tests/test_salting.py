import numpy as np
import pandas as pd

from mpds_spark.operators.asof import asof_join
from mpds_spark.operators.salting import salted_asof_join
from mpds_spark.operators.windows import derived_features


def _skewed_tables(seed=41, n_entities=6, hot_mult=100):
    """One entity with hot_mult x the rows of the others (skew fixture)."""
    rng = np.random.default_rng(seed)
    frames_l, frames_r = [], []
    for e in range(n_entities):
        n = 30 * (hot_mult if e == 0 else 1)
        lts = np.sort(rng.uniform(0, 10 * 86400, n))
        frames_l.append(
            pd.DataFrame(
                {"entity_id": f"e{e}", "ts": lts, "lv": rng.normal(size=n)}
            )
        )
        m = max(n // 3, 2)
        rts = np.sort(rng.uniform(0, 10 * 86400, m))
        frames_r.append(
            pd.DataFrame(
                {"entity_id": f"e{e}", "ts": rts, "rv": rng.normal(size=m).round(4)}
            )
        )
    return (
        pd.concat(frames_l, ignore_index=True),
        pd.concat(frames_r, ignore_index=True),
    )


def test_salted_asof_equals_unsalted(spark):
    lpdf, rpdf = _skewed_tables()
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    plain = (
        asof_join(left, right)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    salted = (
        salted_asof_join(left, right, chunk_span=86400.0)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    assert len(plain) == len(salted) == len(lpdf)
    for c in ("rv", "ts_r"):
        a = plain[c].to_numpy(dtype=float)
        b = salted[c].to_numpy(dtype=float)
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), f"salted mismatch in {c}"


def test_window_ops_survive_hot_entity(spark):
    """The sort-based paths must handle a 100x hot entity and return results
    equal to a pandas groupby reference (no salting required)."""
    lpdf, _ = _skewed_tables(hot_mult=100)
    df = spark.createDataFrame(lpdf)
    got = (
        derived_features(df, value="lv")
        .orderBy("entity_id", "ts")
        .select("entity_id", "ts", "dss_avg")
        .toPandas()
    )
    import oracles

    exp = (
        lpdf.sort_values(["entity_id", "ts"])
        .groupby("entity_id", group_keys=False)
        .apply(lambda g: oracles.derived_features(g, value="lv", ts="ts"))
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        got["dss_avg"].to_numpy(), exp["dss_avg"].to_numpy(), rtol=1e-12
    )


def _hot_series(seed=7, hot_mult=100, null_frac=0.35):
    """100x hot-entity fixture with CONSECUTIVE integer timestamps per
    entity: dt == 1 everywhere. null_frac of values are null (LOCF food)."""
    rng = np.random.default_rng(seed)
    frames = []
    for e in range(6):
        n = 30 * (hot_mult if e == 0 else 1)
        vals = rng.normal(size=n)
        vals[rng.uniform(size=n) < null_frac] = np.nan
        frames.append(
            pd.DataFrame(
                {
                    "entity_id": f"e{e}",
                    # start at 1: cum(t) must never be 0 (ANSI divide check)
                    "ts": np.arange(1, n + 1, dtype="float64"),
                    "lv": vals,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _assert_cols_equal(a, b, cols):
    for c in cols:
        x = a[c].to_numpy(dtype=float)
        y = b[c].to_numpy(dtype=float)
        same = (x == y) | (np.isnan(x) & np.isnan(y))
        assert same.all(), f"salted mismatch in {c}: {np.where(~same)[0][:5]}"


def test_salted_locf_bit_equal_to_plain(spark):
    """VERDICT r2 #3: salted LOCF (per-chunk last + carried chunk-prefix)
    must be BIT-identical to the unsalted window LOCF on the 100x
    hot-entity fixture — last() is a selection, no float arithmetic."""
    from mpds_spark.operators.backfill import locf
    from mpds_spark.operators.salting import salted_locf

    pdf = _hot_series()  # floats fine: no summation
    df = spark.createDataFrame(pdf)
    kw = dict(value="lv", valid_time=3.0, default=-1.0)
    plain = locf(df, **kw).orderBy("entity_id", "ts").toPandas()
    salted = (
        salted_locf(df, chunk_span=256.0, **kw)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    assert list(plain.columns) == list(salted.columns)
    _assert_cols_equal(
        plain, salted, ["lv_locf", "lv_time_since_sample", "lv_locf_expir"]
    )


def test_salted_key_no_collision_numeric_suffix_entities(spark):
    """ADVICE r1 (high): entity 'u1' at chunk 12 and entity 'u11' at chunk 2
    must NOT merge into one salted group. With a collision, u11's right row
    would leak into u1's as-of matches (or vice versa); the salted join now
    keys on the (entity, chunk) two-column composite, so no string encoding
    exists to collide, and the salted result equals the unsalted exactly."""
    day = 86400.0
    lpdf = pd.DataFrame(
        {
            # u1 rows live in chunks 11-12, u11 rows in chunks 1-2:
            # concat without a separator gives 'u112' for BOTH (u1|12, u11|2)
            "entity_id": ["u1", "u1", "u11", "u11"],
            "ts": [11.5 * day, 12.5 * day, 1.5 * day, 2.5 * day],
            "lv": [1.0, 2.0, 3.0, 4.0],
        }
    )
    rpdf = pd.DataFrame(
        {
            "entity_id": ["u1", "u11"],
            "ts": [11.2 * day, 1.2 * day],
            "rv": [100.0, 200.0],
        }
    )
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    plain = asof_join(left, right).orderBy("entity_id", "ts").toPandas()
    salted = (
        salted_asof_join(left, right, chunk_span=day)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    assert plain[["entity_id", "ts", "rv"]].equals(
        salted[["entity_id", "ts", "rv"]]
    )
    # and each entity matched its OWN right row
    by_e = {r.entity_id: set(salted[salted.entity_id == r.entity_id]["rv"])
            for r in right.collect()}
    assert by_e["u1"] == {100.0} and by_e["u11"] == {200.0}


def test_hot_key_audit_matches_counter(spark):
    """log2 bucket histogram matches a Counter rederivation, with exact
    power-of-two counts landing in the right bucket (the floor(log2())
    -on-a-double hazard the bin()-length encoding avoids)."""
    from collections import Counter

    from mpds_spark.operators.salting import hot_key_audit

    sizes = {1: 1, 2: 2, 3: 3, 4: 4, 5: 8, 6: 9, 7: 15, 8: 16, 9: 100}
    rows = [
        (uid, i) for uid, n in sizes.items() for i in range(n)
    ]
    df = spark.createDataFrame(rows, "user_id long, x long")
    got = {r["log2_bucket"]: r.asDict() for r in hot_key_audit(
        df, entity="user_id").collect()}
    buckets = {}
    for n in sizes.values():
        b = n.bit_length() - 1
        buckets.setdefault(b, []).append(n)
    assert set(got) == set(buckets)
    for b, ns in buckets.items():
        r = got[b]
        assert r["n_entities"] == len(ns)
        assert r["n_events"] == sum(ns)
        assert r["min_count"] == min(ns)
        assert r["max_count"] == max(ns)
