import numpy as np
import pandas as pd
import pytest

import oracles
from conftest import make_entity_series

from mpds_spark.operators.asof import LeakageError, time_since_event
from mpds_spark.operators.windows import (
    derived_features,
    interleave_split,
    lag_lead_diff,
)


def test_derived_features_matches_reference(spark):
    pdf = make_entity_series(null_frac=0.0)
    pdf = pdf.rename(columns={"value": "dss"})
    df = spark.createDataFrame(pdf)
    got = (
        derived_features(df, value="dss")
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    feat_cols = [
        "dss_avg",
        "dss_ht_avg",
        "dss_ht_sq_avg",
        "dss_max",
        "dss_min",
        "dss_rate_avg",
        "dss_rate_ht_avg",
        "dss_abs_rate_avg",
        "dss_abs_rate_ht_avg",
    ]
    expected = (
        pdf.sort_values(["entity_id", "ts"])
        .groupby("entity_id", group_keys=False)
        .apply(lambda g: oracles.derived_features(g, value="dss", ts="ts"))
        .reset_index(drop=True)
    )
    for c in feat_cols:
        np.testing.assert_allclose(
            got[c].to_numpy(), expected[c].to_numpy(), rtol=1e-12, atol=1e-12,
            err_msg=c,
        )


@pytest.mark.parametrize(
    "ts, dss",
    [
        ([10.0, 20.0, 20.0, 30.0], [1.0, 2.0, 2.0, 5.0]),
        ([0.0, 10.0, 20.0], [1.0, 3.0, 2.0]),
        ([-10.0, 10.0, 20.0], [1.0, 3.0, 2.0]),
    ],
    ids=["duplicate_ts", "first_ts_zero", "running_ts_sum_zero"],
)
def test_derived_features_zero_divisor_matches_reference(spark, ts, dss):
    """A zero divisor (two rows at one ts; a running Σt of 0) gives the
    reference's IEEE result — NaN → 0, ±Inf kept — under ANSI mode, where
    a plain division fails the whole action with DIVIDE_BY_ZERO."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    pdf = pd.DataFrame({"entity_id": "e", "ts": ts, "dss": dss})
    got = (
        derived_features(spark.createDataFrame(pdf), value="dss")
        .orderBy("ts")
        .toPandas()
    )
    expected = oracles.derived_features(pdf, value="dss", ts="ts")
    for c in expected.columns:
        np.testing.assert_allclose(
            got[c].to_numpy(), expected[c].to_numpy(), rtol=1e-12, err_msg=c
        )


def test_time_since_event_matches_reference(spark):
    pdf = make_entity_series()
    df = spark.createDataFrame(pdf)
    got = (
        time_since_event(df, include_forward=True, leakage_ok=True)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    t_next, t_first, t_since_last, t_since_first = oracles.time_since_to_event(
        s["entity_id"].to_numpy(), s["ts"].to_numpy(), s["event"].to_numpy()
    )
    np.testing.assert_allclose(
        got["time_since_last_event"].to_numpy(dtype=float), t_since_last
    )
    np.testing.assert_allclose(
        got["time_since_first_event"].to_numpy(dtype=float), t_since_first
    )
    np.testing.assert_allclose(
        got["time_to_next_event"].to_numpy(dtype=float), t_next
    )
    np.testing.assert_allclose(
        got["time_to_first_event"].to_numpy(dtype=float), t_first
    )


def test_time_since_event_forward_requires_leakage_opt_in(spark):
    df = spark.createDataFrame(make_entity_series())
    with pytest.raises(LeakageError):
        time_since_event(df, include_forward=True)


def test_lag_lead_diff_first_row_defaults(spark):
    pdf = pd.DataFrame(
        {
            "entity_id": ["a", "a", "a", "b"],
            "ts": [1.0, 3.0, 7.0, 2.0],
            "value": [5.0, 2.0, 9.0, 4.0],
        }
    )
    got = (
        lag_lead_diff(spark.createDataFrame(pdf), "value")
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    assert got["value_diff"].tolist() == [0.0, -3.0, 7.0, 0.0]
    assert got["value_abs_diff"].tolist() == [0.0, 3.0, 7.0, 0.0]
    assert got["diff_ts"].tolist() == [1.0, 2.0, 4.0, 1.0]


def test_interleave_split(spark):
    pdf = pd.DataFrame(
        {
            "entity_id": ["a"] * 4 + ["b"] * 3,
            "ts": [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0],
        }
    )
    got = (
        interleave_split(spark.createDataFrame(pdf))
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    assert got["phase"].tolist() == [0, 1, 0, 1, 0, 1, 0]
    assert got["pair_id"].tolist() == [0, 0, 1, 1, 0, 0, 1]


def test_random_ordered_pairs_orientation(spark):
    import pandas as pd

    from mpds_spark.operators.pairs import random_ordered_pairs

    pdf = pd.DataFrame({"key": range(40), "rank": [i % 7 for i in range(40)]})
    out = random_ordered_pairs(
        spark.createDataFrame(pdf), key="key", rank="rank", n_pairs=25
    ).toPandas()
    assert 0 < len(out) <= 25
    ranks = dict(zip(pdf["key"], pdf["rank"]))
    for _, r in out.iterrows():
        assert ranks[r.on_key] > ranks[r.off_key]
    assert not out.duplicated(["on_key", "off_key"]).any()


def test_decimal_to_bin_and_diff_energy():
    import numpy as np

    from mpds_spark.functions.mlstats import decimal_to_bin_matrix, diff_energy

    m = decimal_to_bin_matrix(np.array([0, 1, 2, 3]), 4)
    np.testing.assert_array_equal(m, [[0, 0], [0, 1], [1, 0], [1, 1]])
    r = diff_energy([1.0, -2.0, 3.0], [1.0, 2.0, 0.0])
    assert r["total_diff_energy"] == 7.0
    np.testing.assert_allclose(r["fraction_per_component"], [0.0, 2.0, 2.0])


def test_random_ordered_pairs_layout_independent(spark):
    """VERDICT r1 item 6: the pairing must be a pure function of content —
    identical output under repartition(1) vs repartition(64)."""
    import pandas as pd

    from mpds_spark.operators.pairs import random_ordered_pairs

    pdf = pd.DataFrame({"key": range(60), "rank": [i % 9 for i in range(60)]})
    base = spark.createDataFrame(pdf)

    def pair_set(df):
        out = random_ordered_pairs(df, key="key", rank="rank", n_pairs=30)
        return {(r.on_key, r.off_key) for r in out.collect()}

    s1 = pair_set(base.repartition(1))
    s64 = pair_set(base.repartition(64))
    assert s1 == s64
    assert 0 < len(s1) <= 30


def test_clinical_pairs_intra_inter(spark):
    """dssGenerateClinicalComparisons parity (dssFunctionLibrary.R:119-171):
    intra pass is per-entity; inter pass pairs across entities but ONLY
    among rows used by the intra pass; negative stages are excluded."""
    import pandas as pd

    from mpds_spark.operators.pairs import clinical_pairs

    rows = []
    k = 0
    for e, stages in [("e1", [0, 1, 2]), ("e2", [0, 2]), ("e3", [1])]:
        for i, s in enumerate(stages):
            rows.append((k, e, float(k * 1000), s))
            k += 1
    rows.append((k, "e4", 99000.0, -1))  # negative stage: excluded
    df = spark.createDataFrame(rows, ["key", "entity_id", "ts", "stage"])

    out = clinical_pairs(df, key="key", inter_rows_per_stage=None).collect()
    by_type = {"intra": set(), "inter": set()}
    stages = {r[0]: r[3] for r in rows}
    ents = {r[0]: r[1] for r in rows}
    for r in out:
        by_type[r.pair_type].add((r.on_key, r.off_key))
        assert stages[r.on_key] > stages[r.off_key]
        assert stages[r.on_key] >= 0 and stages[r.off_key] >= 0
    # intra pairs are same-entity
    assert by_type["intra"]
    assert all(ents[a] == ents[b] for a, b in by_type["intra"])
    # inter pairs are cross-entity (same-entity dupes get tagged intra)
    assert by_type["inter"]
    assert all(ents[a] != ents[b] for a, b in by_type["inter"])
    # e3's only row (stage 1) can never appear in an intra pair, and the
    # inter pass only uses intra-used rows -> e3 appears nowhere
    assert not any(
        ents[a] == "e3" or ents[b] == "e3"
        for t in by_type.values()
        for a, b in t
    )


def test_series_stats_matches_kernels(spark):
    """Table-level ZCR/TKEO/AR1 == the numpy kernels per entity."""
    import numpy as np

    from mpds_spark.functions.kernels import ar1, mean_tkeo, zcr
    from mpds_spark.operators.windows import series_stats

    rng = np.random.default_rng(23)
    rows = []
    series = {}
    for e, n in (("a", 40), ("b", 3), ("c", 2), ("d", 1)):
        x = np.round(rng.normal(0, 5, size=n), 3)
        series[e] = x
        rows += [(e, float(i), float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, ["entity_id", "ts", "value"])
    got = {r["entity_id"]: r for r in series_stats(df).collect()}
    for e, x in series.items():
        r = got[e]
        assert r["n"] == len(x)
        np.testing.assert_allclose(r["zcr"], zcr(x), rtol=1e-12)
        if len(x) >= 3:
            np.testing.assert_allclose(r["tkeo_mean"], mean_tkeo(x), rtol=1e-12)
        else:
            assert r["tkeo_mean"] is None
        if len(x) >= 2:
            np.testing.assert_allclose(r["ar1"], ar1(x), rtol=1e-12)
        else:
            assert r["ar1"] is None


def test_clinical_pairs_uncapped_inter_warns(spark):
    """VERDICT r3 ask #4: the inter pass plans an uncapped nested-loop
    theta self-join when inter_rows_per_stage is left at its default —
    that now WARNS; an explicit None (deliberate uncapped) or an int cap
    is silent, and all three produce the same pairs on small input."""
    import warnings

    from mpds_spark.operators.pairs import clinical_pairs

    df = spark.createDataFrame(
        [
            (0, "e1", 0.0, 0),
            (1, "e1", 1000.0, 1),
            (2, "e2", 0.0, 0),
            (3, "e2", 2000.0, 1),
        ],
        ["key", "entity_id", "ts", "stage"],
    )
    with pytest.warns(RuntimeWarning, match="inter_rows_per_stage"):
        warned = clinical_pairs(df, key="key").collect()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        explicit = clinical_pairs(
            df, key="key", inter_rows_per_stage=None
        ).collect()
        capped = clinical_pairs(
            df, key="key", inter_rows_per_stage=100
        ).collect()
        assert not [
            w for w in caught if issubclass(w.category, RuntimeWarning)
        ]
    key = lambda rows: sorted((r.on_key, r.off_key, r.pair_type) for r in rows)  # noqa: E731
    assert key(warned) == key(explicit) == key(capped)


def test_event_burstiness_matches_numpy(spark):
    """B/M agree with a numpy rederivation (population sigma, Pearson on
    consecutive gap pairs) and hit the signature regimes: constant gaps
    -> B = -1 / M null; exponential-ish gaps -> B near 0; alternating
    tiny/huge gaps -> B > 0 with strongly negative M (Goh-Barabasi)."""
    import datetime as dt

    from mpds_spark.operators.windows import event_burstiness

    rng = np.random.default_rng(5)
    gaps = {
        1: [5_000_000] * 30,  # periodic: 5 s heartbeat
        2: list((rng.exponential(3.0, 60) * 1e6 + 1).astype("int64")),
        3: [100_000, 60_000_000] * 20,  # alternation: M -> -1
        4: [7_000_000],  # single gap: sigma 0 over one sample -> B=-1
        # heavy tail (rare huge gaps dominate sigma): B well above 0
        5: [10_000] * 25 + [600_000_000] + [10_000] * 25 + [600_000_000],
    }
    rows, base = [], dt.datetime(2024, 1, 1)
    eid = 0
    for uid, gs in gaps.items():
        t = 0
        rows.append((eid, uid, base)); eid += 1
        for g in gs:
            t += int(g)
            rows.append((eid, uid, base + dt.timedelta(microseconds=t)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in event_burstiness(
            df, ts="ts", by="user_id", tiebreak="event_id"
        ).collect()
    }
    for uid, gs in gaps.items():
        g = np.array(gs, dtype=float)
        mu, sigma = g.mean(), g.std()  # population
        b = (sigma - mu) / (sigma + mu)
        r = got[uid]
        assert r["n_events"] == len(gs) + 1
        assert r["mean_gap_s"] == pytest.approx(mu / 1e6, rel=1e-9)
        assert r["burstiness_b"] == pytest.approx(b, abs=1e-9)
        if len(gs) >= 3:
            x, y = g[:-1], g[1:]
            mexp = np.corrcoef(x, y)[0, 1]
            if np.std(x) > 0 and np.std(y) > 0:
                assert r["memory_m"] == pytest.approx(mexp, abs=1e-9)
        else:
            assert r["memory_m"] is None
    assert got[1]["burstiness_b"] == -1.0 and got[1]["memory_m"] is None
    assert abs(got[2]["burstiness_b"]) < 0.25
    assert got[3]["memory_m"] < -0.9  # alternation anti-correlates gaps
    assert got[4]["burstiness_b"] == -1.0
    assert got[5]["burstiness_b"] > 0.3  # heavy tail: sigma >> mu


def test_transition_entropy_matches_numpy(spark):
    """H(next|cur), H(cur) and the ratio agree with a numpy rederivation
    from brute-force transition counts; a deterministic cycle scores
    H(next|cur) = 0 while an i.i.d. stream scores ratio ~ 1."""
    import datetime as dt

    from mpds_spark.operators.windows import transition_entropy

    rng = np.random.default_rng(9)
    streams = {
        1: ["a", "b", "c"] * 20,  # deterministic cycle
        2: list(rng.choice(["x", "y", "z", "w"], size=200)),  # i.i.d.
        3: ["a", "a", "b"] * 15 + ["b"],  # mixed
        4: ["solo"],  # no transition -> drops
    }
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for uid, ss in streams.items():
        for i, s in enumerate(ss):
            rows.append((eid, uid, base + dt.timedelta(seconds=i), s))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in transition_entropy(
            df, state="event_type", ts="ts", by="user_id", tiebreak="event_id"
        ).collect()
    }
    assert 4 not in got
    for uid, ss in streams.items():
        if len(ss) < 2:
            continue
        cells = {}
        for p, s in zip(ss[:-1], ss[1:]):
            cells[(p, s)] = cells.get((p, s), 0) + 1
        n = sum(cells.values())
        row_tot = {}
        for (p, _), c in cells.items():
            row_tot[p] = row_tot.get(p, 0) + c
        h_cond = sum(
            (c / n) * np.log(row_tot[p] / c) for (p, _), c in cells.items()
        )
        h_cur = sum((ni / n) * np.log(n / ni) for ni in row_tot.values())
        g = got[uid]
        assert g["n_transitions"] == n
        assert g["h_cond"] == pytest.approx(h_cond, abs=1e-9)
        assert g["h_cur"] == pytest.approx(h_cur, abs=1e-9)
        if h_cur != 0.0:
            assert g["predictability_ratio"] == pytest.approx(
                h_cond / h_cur, abs=1e-9
            )
    assert got[1]["h_cond"] == pytest.approx(0.0, abs=1e-12)
    assert got[2]["predictability_ratio"] > 0.9


def test_ewma_features_matches_numpy(spark):
    """Final EWMA matches the numpy recursion exactly (same IEEE op
    order); constant series -> ewma == value; a level step decays toward
    the new level with gap shrinking as (1-alpha)^k."""
    import datetime as dt

    from mpds_spark.operators.windows import ewma_features

    rng = np.random.default_rng(11)
    series = {
        1: [5.0] * 40,
        2: list(np.round(rng.normal(10, 3, 75), 2)),
        3: [1.0] * 30 + [9.0] * 10,  # level shift
        4: [42.5],  # single event: ewma == value
    }
    rows, base = [], dt.datetime(2024, 1, 1)
    eid = 0
    for uid, vs in series.items():
        for i, v in enumerate(vs):
            rows.append(
                (eid, uid, base + dt.timedelta(seconds=17 * i), float(v))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in ewma_features(
            df, value="value", ts="ts", by="user_id", alpha=0.25,
            tiebreak="event_id",
        ).collect()
    }
    for uid, vs in series.items():
        acc = vs[0]
        for v in vs[1:]:
            acc = acc * 0.75 + v * 0.25
        r = got[uid]
        assert r["n_events"] == len(vs)
        assert r["last_value"] == vs[-1]
        assert r["ewma"] == acc  # bit-identical fold
        assert r["ewma_gap"] == vs[-1] - acc
    assert got[1]["ewma"] == 5.0 and got[1]["ewma_gap"] == 0.0
    assert got[4]["ewma"] == 42.5
    # step decay: gap after k=10 steps at the new level is (9-1)*0.75^10
    assert got[3]["ewma_gap"] == pytest.approx(8.0 * 0.75**10, rel=1e-12)


def test_cusum_changepoint_matches_numpy(spark):
    """argmax_k |sum_{i<=k}(x - xbar)| location, size and the
    sigma*sqrt(n)-normalized statistic match numpy; a clean level shift
    puts cp_index at the shift and scores far above an iid stream;
    constant series -> stat NULL; ties break to the earliest k."""
    import datetime as dt

    from mpds_spark.operators.windows import cusum_changepoint

    rng = np.random.default_rng(23)
    series = {
        1: [2.0] * 25 + [8.0] * 25,  # shift at k=25
        2: list(np.round(rng.normal(50, 5, 80), 2)),
        3: [3.14] * 12,  # constant: sigma 0 -> stat NULL
        4: [1.0, 3.0, 1.0, 3.0] * 10,  # alternating: tie-break earliest
    }
    rows, base = [], dt.datetime(2024, 2, 1)
    eid = 0
    for uid, vs in series.items():
        for i, v in enumerate(vs):
            rows.append(
                (eid, uid, base + dt.timedelta(seconds=60 * i), float(v))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in cusum_changepoint(
            df, value="value", ts="ts", by="user_id", tiebreak="event_id"
        ).collect()
    }
    for uid, vs in series.items():
        x = np.array(vs)
        s = np.cumsum(x - x.mean())
        k = int(np.argmax(np.abs(np.round(s, 10)))) + 1  # earliest max
        r = got[uid]
        assert r["n_events"] == len(vs)
        assert r["cusum_max"] == pytest.approx(np.abs(s).max(), abs=1e-9)
        sd = x.std()
        if sd > 0:
            assert r["cusum_stat"] == pytest.approx(
                np.abs(s).max() / (sd * np.sqrt(len(vs))), rel=1e-9
            )
        else:
            assert r["cusum_stat"] is None
        if uid != 4:
            assert r["cp_index"] == k
    assert got[1]["cp_index"] == 25
    assert got[1]["cusum_stat"] > 3 * got[2]["cusum_stat"]
    # alternating series: |S_k| = 1 at every odd k -> earliest wins
    assert got[4]["cp_index"] == 1


def test_hourly_seasonality_matches_numpy(spark):
    """R / circular mean / peak / night fraction match a numpy
    rederivation; all-in-one-hour -> R = 1 with the mean at that hour;
    a uniform 24-hour profile -> R = 0."""
    import datetime as dt

    from mpds_spark.operators.windows import hourly_seasonality

    profiles = {
        1: {14: 30},  # all in hour 14
        2: {h: 3 for h in range(24)},  # uniform -> R ~ 0
        3: {22: 10, 23: 10, 0: 10, 1: 10, 5: 2},  # night wrap-around
        4: {9: 20, 10: 5, 17: 20},  # bimodal, tie peak -> hour 9
    }
    rows, eid = [], 0
    for uid, prof in profiles.items():
        for h, c in prof.items():
            for i in range(c):
                rows.append(
                    (
                        eid,
                        uid,
                        dt.datetime(2024, 3, 1 + (i % 20), h, i % 60, 7),
                    )
                )
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in hourly_seasonality(df, ts="ts", by="user_id").collect()
    }
    for uid, prof in profiles.items():
        n = sum(prof.values())
        hs = np.array(sorted(prof))
        cs = np.array([prof[h] for h in sorted(prof)], dtype=float)
        ang = 2 * np.pi * hs / 24
        sc, ss = (cs * np.cos(ang)).sum(), (cs * np.sin(ang)).sum()
        r = got[uid]
        assert r["n_events"] == n
        assert r["resultant_r"] == pytest.approx(
            np.hypot(sc, ss) / n, abs=1e-9
        )
        if r["resultant_r"] > 1e-9:
            mean_h = (np.arctan2(ss, sc) * 24 / (2 * np.pi) + 24) % 24
            assert r["circ_mean_h"] == pytest.approx(mean_h, abs=1e-9)
        night = sum(c for h, c in prof.items() if h < 6)
        assert r["night_frac"] == pytest.approx(night / n, abs=1e-12)
    assert got[1]["resultant_r"] == pytest.approx(1.0, abs=1e-12)
    assert got[1]["peak_hour"] == 14 and got[1]["peak_frac"] == 1.0
    assert got[2]["resultant_r"] == pytest.approx(0.0, abs=1e-9)
    # wrap-around: circular mean sits near midnight, NOT at the 11.5
    # arithmetic mean of the hour labels
    assert got[3]["circ_mean_h"] > 22 or got[3]["circ_mean_h"] < 2
    assert got[4]["peak_hour"] == 9  # tie with 17 -> earliest


def test_zscore_outliers_matches_numpy(spark):
    """Strictly-prior expanding z-scores match a numpy loop; a planted
    spike is counted and located; the spike does NOT inflate its own
    baseline (leakage check: a huge final value still scores against the
    clean prior mean/sd); constant prior -> unscored."""
    import datetime as dt

    from mpds_spark.operators.windows import zscore_outliers

    rng = np.random.default_rng(31)
    base_vals = list(np.round(rng.normal(20, 2, 40), 2))
    series = {
        1: base_vals + [90.0] + base_vals[:10],  # planted spike at k=41
        2: list(np.round(rng.normal(5, 1, 30), 2)),  # clean
        3: [7.0] * 10 + [7.5],  # zero prior variance -> unscored
        4: [1.0, 2.0, 3.0],  # < min_prior everywhere
    }
    rows, eid = [], 0
    for uid, vs in series.items():
        for i, v in enumerate(vs):
            rows.append(
                (
                    eid,
                    uid,
                    dt.datetime(2024, 6, 1) + dt.timedelta(seconds=30 * i),
                    float(v),
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in zscore_outliers(
            df, value="value", ts="ts", by="user_id", threshold=3.0,
            min_prior=5, tiebreak="event_id",
        ).collect()
    }
    for uid, vs in series.items():
        c = np.round(np.array(vs) * 100).astype(np.int64)
        zs = []
        for k in range(len(c)):
            m, c1, c2 = k, c[:k].sum(), (c[:k] ** 2).sum()
            varn = m * c2 - c1 * c1
            if m >= 5 and varn > 0:
                zs.append((k, (m * c[k] - c1) / np.sqrt(varn)))
        r = got[uid]
        assert r["n_events"] == len(vs)
        assert r["n_scored"] == len(zs)
        assert r["n_outliers"] == sum(1 for _, z in zs if abs(z) > 3.0)
        if zs:
            kmax, zmax = max(zs, key=lambda t: (abs(t[1]), -t[0]))
            assert r["max_abs_z"] == pytest.approx(abs(zmax), rel=1e-12)
            assert r["z_at_max"] == pytest.approx(zmax, rel=1e-12)
        else:
            assert r["max_abs_z"] is None and r["z_at_max"] is None
    assert got[1]["n_outliers"] >= 1 and got[1]["z_at_max"] > 10
    assert got[3]["n_scored"] == 0  # constant prior: never scored
    assert got[4]["n_scored"] == 0  # below min_prior


def test_value_acf_matches_numpy(spark):
    """ACF at lags 1-3 matches the numpy rederivation (overall-mean
    convention); an alternating series has acf_1 ~ -1 / acf_2 ~ +1; an
    i.i.d. stream sits near 0; a constant series is NULL (zero
    variance); short series NULL beyond n-1 lags."""
    import datetime as dt

    from mpds_spark.operators.windows import value_acf

    rng = np.random.default_rng(41)
    series = {
        1: [1.0, 5.0] * 30,  # alternating
        2: list(np.round(rng.normal(10, 2, 80), 2)),  # iid
        3: [2.5] * 20,  # constant -> NULL
        4: [1.0, 2.0],  # n=2: acf_1 defined, acf_2/3 NULL
        # slow trend: strongly positive at all lags
        5: list(np.round(np.linspace(0, 50, 60), 2)),
    }
    rows, eid = [], 0
    for uid, vs in series.items():
        for i, v in enumerate(vs):
            rows.append(
                (eid, uid,
                 dt.datetime(2024, 8, 1) + dt.timedelta(seconds=10 * i),
                 float(v))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in value_acf(
            df, value="value", ts="ts", by="user_id", lags=(1, 2, 3),
            tiebreak="event_id",
        ).collect()
    }

    def acf(x, lag):
        x = np.asarray(x, dtype=float)
        d = x - x.mean()
        den = (d * d).sum()
        if den == 0 or len(x) <= lag:
            return None
        return float((d[:-lag] * d[lag:]).sum() / den)

    for uid, vs in series.items():
        r = got[uid]
        assert r["n_events"] == len(vs)
        for lag in (1, 2, 3):
            want = acf(vs, lag)
            if want is None:
                assert r[f"acf_{lag}"] is None
            else:
                assert r[f"acf_{lag}"] == pytest.approx(want, abs=1e-9)
    assert got[1]["acf_1"] < -0.9 and got[1]["acf_2"] > 0.9
    assert abs(got[2]["acf_1"]) < 0.3
    assert got[3]["acf_1"] is None
    assert got[4]["acf_2"] is None and got[4]["acf_3"] is None
    assert got[5]["acf_1"] > 0.9


def test_ewma_affine_chunk_composition(spark):
    """Substantiates the scale path claimed in ewma_features' docstring:
    a chunk of length L acts on the carried state as the affine map
    s -> s*(1-alpha)^L + B_chunk, and composing per-chunk (decay, B)
    summaries IN ORDER reproduces the full fold bit-for-bit — so a
    monster entity splits into ordered chunks exactly like the salted
    two-pass operators."""
    import datetime as dt

    from mpds_spark.operators.windows import ewma_features

    rng = np.random.default_rng(53)
    vs = list(np.round(rng.normal(10, 3, 200), 2))
    alpha, keep = 0.25, 0.75
    rows = [
        (i, 1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), float(v))
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    full = ewma_features(
        df, value="value", ts="ts", by="user_id", alpha=alpha,
        tiebreak="event_id",
    ).collect()[0]["ewma"]

    def chunk_summary(chunk, carry_in):
        """Fold a chunk given carried state; first global chunk seeds
        with its first element (matching the operator's init)."""
        if carry_in is None:
            acc, rest = chunk[0], chunk[1:]
        else:
            acc, rest = carry_in, chunk
        for v in rest:
            acc = acc * keep + v * alpha
        return acc

    # 3 uneven ordered chunks, composed sequentially via the affine maps
    carry = None
    for lo, hi in ((0, 67), (67, 150), (150, 200)):
        carry = chunk_summary(vs[lo:hi], carry)
    assert carry == full  # bit-identical, not approx

    # the affine form itself: fold(chunk, s) == s*keep^L + fold(chunk, 0)
    chunk = vs[50:90]
    L = len(chunk)
    s_in = 7.25
    direct = chunk_summary(chunk, s_in)
    b = chunk_summary(chunk, 0.0)
    assert direct == pytest.approx(s_in * keep**L + b, rel=1e-12)


def test_rank_normalize_matches_numpy(spark):
    """percent_rank/cume_dist agree with the textbook definitions under
    heavy ties and single-row entities: pr = (rank-1)/(n-1) with
    min-rank ties (0 when n == 1), cd = #(values <= v)/n."""
    from mpds_spark.operators.windows import rank_normalize

    rng = np.random.default_rng(3)
    rows, eid = [], 0
    data = {
        1: list(rng.integers(-5, 5, 40)),   # heavy ties
        2: [7],                             # single row -> pr 0, cd 1
        3: [4, 4, 4],                       # all-equal entity
        4: list(rng.integers(-1000, 1000, 25)),
    }
    for uid, vs in data.items():
        for v in vs:
            rows.append((eid, uid, int(v)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, c long")
    got = {
        r["event_id"]: r
        for r in rank_normalize(
            df, value="c", by="user_id", extra=("event_id",)
        ).collect()
    }
    eid = 0
    for uid, vs in data.items():
        a = np.array(vs, dtype="int64")
        n = len(a)
        for v in vs:
            r = got[eid]
            less = int((a < v).sum())
            leq = int((a <= v).sum())
            pr = 0.0 if n == 1 else less / (n - 1)
            assert r["pct_rank"] == pytest.approx(pr, abs=0), (uid, eid)
            assert r["cume_dist"] == pytest.approx(leq / n, abs=0), (uid, eid)
            eid += 1


def test_rolling_median_query_matches_numpy(spark):
    """The rolling_median catalog query's two-index interpolating-median
    formula must equal np.median over every trailing 5-row frame — a
    numpy differential, because the DuckDB oracle shares the same index
    expression and would agree even if the formula were wrong."""
    from mpds_spark.queries import q_rolling_median

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["event_id"]: r.asDict()
        for r in q_rolling_median(spark, sf_dir).collect()
    }
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "event_id",
            "user_id",
            "cast(cast(ts as timestamp) as double) AS t",
            "value",
        )
        .toPandas()
        .sort_values(["user_id", "t", "event_id"])
    )
    checked = 0
    for _, g in ev.groupby("user_id"):
        vals = g["value"].to_numpy()
        for i, eid in enumerate(g["event_id"].to_numpy()):
            frame = vals[max(0, i - 4) : i + 1]
            r = got[int(eid)]
            assert r["win_n"] == len(frame)
            assert r["roll_med"] == pytest.approx(
                float(np.median(frame)), abs=1e-6
            )
            assert r["roll_min"] == pytest.approx(float(frame.min()))
            assert r["roll_max"] == pytest.approx(float(frame.max()))
            checked += 1
    assert checked == len(got) > 0


def test_feature_matrix_strict_past(spark, tmp_path):
    """feature_matrix's zero-leakage discipline on a planted fixture:
    an event at EXACTLY the label timestamp must be excluded from every
    feature (strict e.ts < label.ts), the 7-day window boundary is
    inclusive at ts-7d, and a first-ever purchase gets all-zero counts
    with NULL secs_since_prev. The sf0.01 oracle run can't prove the
    tie case (no exact-tie timestamps in the synthetic data), so this
    fixture plants one."""
    import datetime as dt

    from mpds_spark.queries import q_feature_matrix

    base = dt.datetime(2024, 3, 10, 12, 0, 0)

    def ts(s):
        return base + dt.timedelta(seconds=s)

    D7 = 604800.0
    rows = [
        # user 1: purchase at t=0 with an exact-tie click at t=0 (must
        # be excluded), one click exactly at the 7d boundary (included),
        # one click just inside, one click before the boundary
        # (lifetime only)
        (10, ts(-D7 - 50), 1, "click", 3.0),
        (11, ts(-D7), 1, "click", 5.0),
        (12, ts(-100), 1, "click", 7.0),
        (13, ts(0), 1, "click", 11.0),
        (14, ts(0), 1, "purchase", 200.0),
        # user 2: first-ever event is the purchase
        (20, ts(0), 2, "purchase", 50.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    cust = spark.createDataFrame(
        [(1, "n1", 0, 100.0, "BUILDING"), (2, "n2", 0, 200.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    sf = str(tmp_path)
    ev.coalesce(1).write.parquet(f"{sf}/events.parquet")
    cust.coalesce(1).write.parquet(f"{sf}/customer.parquet")
    got = {
        r["label_id"]: r.asDict()
        for r in q_feature_matrix(spark, sf).collect()
    }
    r1 = got[14]
    assert r1["label_high_value"] == 1
    # t=0 click excluded (tie); boundary click at -7d included
    assert r1["t7_cnt"] == 2 and r1["t7_clicks"] == 2
    assert r1["t7_sum"] == pytest.approx(12.0)
    assert r1["life_cnt"] == 3
    assert r1["secs_since_prev"] == pytest.approx(100.0)
    assert r1["acctbal"] == 100.0 and r1["mktsegment"] == "BUILDING"
    r2 = got[20]
    assert r2["label_high_value"] == 0
    assert r2["t7_cnt"] == 0 and r2["life_cnt"] == 0
    assert r2["secs_since_prev"] is None


def test_cooccurrence_lift_matches_bruteforce(spark):
    """Market-basket lift vs an itertools brute force over planted
    baskets, including the ranking's rounded-lift + support + pair
    tie-break order."""
    import itertools
    from collections import Counter

    from mpds_spark.operators.pairs import cooccurrence_lift

    baskets = {
        1: [10, 20, 30],
        2: [10, 20],
        3: [10, 20, 40],
        4: [30, 40],
        5: [10, 30, 40, 40],  # duplicate item must dedup
        6: [20, 30],
        7: [50],
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    sdf = spark.createDataFrame(rows, ["basket_id", "item_id"])
    got = cooccurrence_lift(
        sdf, basket="basket_id", item="item_id", min_support=2, k=10
    ).collect()

    n = len(baskets)
    sets = {b: set(v) for b, v in baskets.items()}
    marg = Counter(i for s in sets.values() for i in s)
    supp = Counter(
        p for s in sets.values()
        for p in itertools.combinations(sorted(s), 2)
    )
    want = []
    for (a, b), sp in supp.items():
        if sp < 2:
            continue
        lift = sp * n / (marg[a] * marg[b])
        want.append((a, b, sp, marg[a], marg[b], lift))
    want.sort(key=lambda r: (-round(r[5], 6), -r[2], r[0], r[1]))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g["a"], g["b"], g["supp"], g["ca"], g["cb"]) == w[:5]
        assert abs(g["lift"] - w[5]) < 1e-12


def test_rolling_slope_matches_numpy(spark):
    """rolling_slope's decimal-exact frame sums must reproduce the
    direct per-row trailing-k OLS fit (exact integer arithmetic in
    Python, one float division — the same algebra the operator runs
    JVM-side). Degenerate frames (n < 2) must be NULL."""
    from mpds_spark.operators.windows import rolling_slope

    rng = np.random.default_rng(41)
    rows = []
    for e in range(4):
        t = np.cumsum(rng.integers(1, 7200, size=30)).astype("float64")
        v = np.round(rng.normal(50.0, 20.0, size=30), 4)
        for ts, val in zip(t, v):
            rows.append((f"e{e}", float(ts), float(val)))
    # a one-event entity: its only frame has n=1 -> NULL slope
    rows.append(("solo", 10.0, 1.25))
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts", "value"])
    sdf = spark.createDataFrame(pdf).selectExpr(
        "entity_id", "to_timestamp(ts) AS ts", "value"
    )
    k = 8
    got = (
        rolling_slope(sdf, value="value", ts="ts", by="entity_id", k=k)
        .orderBy("entity_id", "ts")
        .toPandas()
    )

    exp = {}
    for e, g in pdf.groupby("entity_id"):
        g = g.sort_values("ts")
        us = (g["ts"].to_numpy() * 1e6).round().astype("int64")
        x = [int(u - us[0]) for u in us]
        y = [
            int(np.sign(v) * np.floor(abs(v) * 100 + 0.5))
            for v in g["value"]
        ]
        for i in range(len(x)):
            lo = max(0, i - k + 1)
            xs, ys = x[lo : i + 1], y[lo : i + 1]
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(a * b for a, b in zip(xs, ys))
            sxx = sum(a * a for a in xs)
            num, den = n * sxy - sx * sy, n * sxx - sx * sx
            s = (
                float(num) / float(den) * 864000000.0
                if n >= 2 and den > 0
                else None
            )
            exp[(e, float(g["ts"].iloc[i]))] = (n, s)

    for _, r in got.iterrows():
        key = (r["entity_id"], r["ts"].timestamp())
        n, s = exp[key]
        assert r["n_frame"] == n
        if s is None:
            assert pd.isna(r["slope_per_day"])
        else:
            assert abs(r["slope_per_day"] - s) < 1e-9 * max(1.0, abs(s))


def test_haar_energy_matches_numpy(spark):
    """Level energies must match the direct unnormalized Haar pyramid
    over each entity's first-8 cents; short entities are dropped; n not
    a power of two raises."""
    import pytest as _pytest

    from mpds_spark.operators.windows import haar_energy

    rng = np.random.default_rng(3)
    rows = []
    for e in range(6):
        m = int(rng.integers(4, 20))  # some entities < 8 events
        t = np.cumsum(rng.integers(1, 500, size=m))
        v = np.round(rng.normal(0.0, 30.0, size=m), 2)
        rows += [
            (f"e{e}", float(ts), float(val)) for ts, val in zip(t, v)
        ]
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts", "value"])
    sdf = spark.createDataFrame(pdf).selectExpr(
        "entity_id", "to_timestamp(ts) AS ts", "value"
    )
    got = (
        haar_energy(sdf, n=8)
        .orderBy("entity_id")
        .toPandas()
        .set_index("entity_id")
    )

    def cents(v):
        return int(np.sign(v) * np.floor(abs(v) * 100 + 0.5))

    seen = 0
    for e, g in pdf.groupby("entity_id"):
        g = g.sort_values("ts")
        if len(g) < 8:
            assert e not in got.index
            continue
        seen += 1
        x = [cents(v) for v in g["value"].iloc[:8]]
        d1 = [x[0] - x[1], x[2] - x[3], x[4] - x[5], x[6] - x[7]]
        a1 = [x[0] + x[1], x[2] + x[3], x[4] + x[5], x[6] + x[7]]
        d2 = [a1[0] - a1[1], a1[2] - a1[3]]
        a2 = [a1[0] + a1[1], a1[2] + a1[3]]
        r = got.loc[e]
        assert r["e1"] == sum(t * t for t in d1)
        assert r["e2"] == sum(t * t for t in d2)
        assert r["e3"] == (a2[0] - a2[1]) ** 2
        assert r["approx_sq"] == (a2[0] + a2[1]) ** 2
    assert len(got) == seen

    with _pytest.raises(ValueError):
        haar_energy(sdf, n=6)


def test_blocked_fuzzy_pairs_bruteforce(spark):
    """Blocked fuzzy pairs must equal the direct blocked Levenshtein
    enumeration (and a planted one-char typo must surface at dist 1)."""
    from mpds_spark.operators.pairs import blocked_fuzzy_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    names = [
        (1, "small ring"), (2, "smoll ring"), (3, "small sing"),
        (4, "red widget"), (5, "rad widget"), (6, "blue bolt"),
        (7, "red widget"), (8, "green gear"), (9, "grean gear"),
        (10, "blue jolt"),
    ]
    pdf = pd.DataFrame(names, columns=["id", "name"])
    rows = blocked_fuzzy_pairs(
        spark.createDataFrame(pdf), key="id", name="name",
        max_dist=3, k=50,
    ).collect()
    got = [(r["key_a"], r["key_b"], r["dist"]) for r in rows]
    counts = {r["key_a"]: r["n_a"] for r in rows}
    counts.update({r["key_b"]: r["n_b"] for r in rows})

    # distinct-values flow: one node per distinct name, min-id rep
    reps = {}
    for i, n in names:
        if n not in reps or i < reps[n][0]:
            reps[n] = (i, n)
    blocks = {}
    for i, n in reps.values():
        blocks.setdefault((n.split(" ")[-1], n[0]), []).append((i, n))
    want = []
    for members in blocks.values():
        for (ia, na), (ib, nb) in (
            (x, y) for x in members for y in members if x[0] < y[0]
        ):
            d = lev(na, nb)
            if d <= 3:
                want.append((ia, ib, d))
    want.sort(key=lambda t: (t[2], t[0], t[1]))
    assert got == want
    assert (1, 2, 1) in got     # planted typo pair surfaces at dist 1
    # duplicate "red widget" rows collapse to rep id 4 with n=2
    assert 7 not in counts
    assert counts.get(4, None) == 2 or 4 not in counts
    assert all(a < b for a, b, _ in got)  # canonical orientation


def test_decayed_counts_matches_numpy(spark):
    import math

    from mpds_spark.operators.windows import decayed_counts

    rng = np.random.default_rng(29)
    rows = []
    rid = 0
    for e in range(7):
        for _ in range(int(rng.integers(1, 30))):
            rows.append((f"e{e}", float(rng.integers(0, 40 * 86400)), rid))
            rid += 1
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts", "event_id"])
    sdf = spark.createDataFrame(pdf).selectExpr(
        "entity_id", "to_timestamp(ts) AS ts", "event_id"
    )
    hl = 3.5
    got = (
        decayed_counts(
            sdf, half_life_days=hl, tiebreak=("event_id",)
        )
        .toPandas()
        .set_index("entity_id")
    )
    c = math.log(2.0) / (hl * 86400e6)
    mx = pdf["ts"].max() * 1e6
    for e, g in pdf.groupby("entity_id"):
        g = g.sort_values(["ts", "event_id"])
        s = 0.0
        for t in g["ts"]:
            s += math.exp((t * 1e6 - mx) * c)
        r = got.loc[e]
        assert r["n_events"] == len(g)
        assert abs(r["decayed_count"] - s) < 1e-12 * max(1.0, s)
    # an event exactly one half-life old contributes ~0.5
    one = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": ["x", "x"],
             "ts": [0.0, hl * 86400.0],
             "event_id": [0, 1]}
        )
    ).selectExpr("entity_id", "to_timestamp(ts) AS ts", "event_id")
    v = decayed_counts(one, half_life_days=hl).collect()[0]
    assert abs(v["decayed_count"] - 1.5) < 1e-12


def test_max_drawdown_matches_numpy(spark):
    from mpds_spark.operators.windows import max_drawdown

    rng = np.random.default_rng(37)
    rows = []
    rid = 0
    for e in range(5):
        for _ in range(int(rng.integers(3, 40))):
            rows.append(
                (f"e{e}", float(rid), round(float(rng.normal(0, 20)), 2))
            )
            rid += 1
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts", "value"])
    pdf["event_id"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf).selectExpr(
        "entity_id", "to_timestamp(ts) AS ts", "value", "event_id"
    )
    got = (
        max_drawdown(sdf, tiebreak=("event_id",))
        .toPandas()
        .set_index("entity_id")
    )
    for e, g in pdf.groupby("entity_id"):
        g = g.sort_values(["ts", "event_id"])
        y = np.array([
            int(np.sign(v) * np.floor(abs(v) * 100 + 0.5))
            for v in g["value"]
        ])
        cum = np.cumsum(y)
        peak = np.maximum.accumulate(cum)
        r = got.loc[e]
        assert r["n_events"] == len(y)
        assert r["final_cents"] == cum[-1]
        assert r["peak_cents"] == peak.max()
        assert r["max_drawdown_cents"] == (peak - cum).max()


def test_activity_streaks_planted(spark):
    from mpds_spark.operators.windows import activity_streaks

    day = 86400.0
    rows = (
        # e0: days 1,2,3 then 7,8 -> streaks 3 and 2
        [("e0", d * day + 100.0) for d in [1, 2, 3, 7, 8]]
        # two events same day must collapse to one active day
        + [("e0", 2 * day + 500.0)]
        # e1: one day only
        + [("e1", 40 * day)]
    )
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts"])
    sdf = spark.createDataFrame(pdf).selectExpr(
        "entity_id", "to_timestamp(ts) AS ts"
    )
    got = {
        r["entity_id"]: r for r in activity_streaks(sdf).collect()
    }
    assert got["e0"]["n_active_days"] == 5
    assert got["e0"]["n_streaks"] == 2
    assert got["e0"]["longest_streak"] == 3
    assert got["e0"]["current_streak_end_day"] == 8
    assert got["e1"]["n_active_days"] == 1
    assert got["e1"]["longest_streak"] == 1
    assert got["e1"]["current_streak_end_day"] == 40


def test_pareto_frontier_bruteforce(spark):
    """Window skyline must equal the domination definition, including
    duplicate-point survival and same-cost domination."""
    from mpds_spark.operators.pairs import pareto_frontier

    rng = np.random.default_rng(43)
    rows = [
        (i, round(float(c), 2), int(b))
        for i, (c, b) in enumerate(
            zip(rng.uniform(1, 50, 60), rng.integers(1, 30, 60))
        )
    ]
    rows += [(100, 1.0, 1), (101, 1.0, 1)]  # duplicate point: both live
    rows += [(102, 1.0, 0)]  # same cost, smaller benefit: dominated
    pdf = pd.DataFrame(rows, columns=["id", "cost", "benefit"])
    got = {
        r["id"]
        for r in pareto_frontier(
            spark.createDataFrame(pdf), key="id", minimize="cost",
            maximize="benefit",
        ).collect()
    }
    cents = {i: int(np.floor(abs(c) * 100 + 0.5) * np.sign(c))
             for i, c, _ in rows}
    want = set()
    for i, c, b in rows:
        dominated = any(
            cents[j] <= cents[i] and bb >= b
            and (cents[j] < cents[i] or bb > b)
            for j, _, bb in rows if j != i
        )
        if not dominated:
            want.add(i)
    assert got == want
    assert {100, 101} <= got and 102 not in got


def test_linear_attribution_bruteforce(spark):
    from collections import defaultdict

    from mpds_spark.operators.funnels import linear_attribution

    rng = np.random.default_rng(47)
    rows = []
    rid = 0
    kinds = ["view", "click", "purchase", "error"]
    for e in range(8):
        t = 0.0
        for _ in range(int(rng.integers(3, 30))):
            t += float(rng.integers(60, 5 * 86400))
            rows.append(
                (f"e{e}", t, kinds[rng.integers(0, 4)],
                 round(float(rng.uniform(1, 99)), 2), rid)
            )
            rid += 1
    pdf = pd.DataFrame(
        rows, columns=["entity_id", "ts", "event_type", "value", "event_id"]
    )
    sdf = spark.createDataFrame(pdf).selectExpr(
        "entity_id", "to_timestamp(ts) AS ts", "event_type", "value",
        "event_id",
    )
    got = {
        r["touch_type"]: r
        for r in linear_attribution(sdf, lookback=2 * 86400.0).collect()
    }

    want_val = defaultdict(float)
    want_nc = defaultdict(int)
    want_nt = defaultdict(int)
    for _, p in pdf[pdf.event_type == "purchase"].iterrows():
        win = pdf[
            (pdf.entity_id == p.entity_id)
            & (pdf.event_type.isin(["view", "click"]))
            & (pdf.ts <= p.ts)
            & (pdf.ts > p.ts - 2 * 86400.0)
        ]
        cents = int(np.floor(abs(p.value) * 100 + 0.5) * np.sign(p.value))
        if len(win) == 0:
            want_val["(none)"] += cents / 100.0
            want_nc["(none)"] += 1
            continue
        n = len(win)
        for tk, cnt in win.event_type.value_counts().items():
            want_val[tk] += cents * float(cnt) / n / 100.0
            want_nc[tk] += 1
            want_nt[tk] += int(cnt)
    assert set(got) == set(want_val)
    for tk, r in got.items():
        assert r["n_conversions"] == want_nc[tk]
        assert r["n_touches"] == want_nt[tk]
        assert abs(r["attributed_value"] - want_val[tk]) < 1e-9


def test_snm_pairs_bruteforce(spark):
    """SNM pairs must equal direct sorted-window enumeration over
    distinct names, and catch the cross-block typo blocking misses."""
    from mpds_spark.operators.pairs import snm_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    names = [
        (1, "cold ring"), (2, "cold rink"), (3, "colt ring"),
        (4, "old ring"), (5, "zzz zzz"), (6, "cold ring"),
        (7, "apple pie"), (8, "apple pin"),
    ]
    pdf = pd.DataFrame(names, columns=["id", "name"])
    got = [
        (r["key_a"], r["key_b"], r["dist"])
        for r in snm_pairs(
            spark.createDataFrame(pdf), key="id", name="name",
            window=3, max_dist=3, k=50,
        ).collect()
    ]
    reps = {}
    cnt = {}
    for i, n in names:
        reps[n] = min(reps.get(n, i), i)
        cnt[n] = cnt.get(n, 0) + 1
    ordered = sorted(reps)
    want = []
    for i, na in enumerate(ordered):
        for nb in ordered[i + 1 : i + 3]:
            d = lev(na, nb)
            if d <= 3:
                a, b = sorted((reps[na], reps[nb]))
                want.append((a, b, d))
    want.sort(key=lambda t: (t[2], t[0], t[1]))
    assert got == want
    # 'cold ring'/'colt ring' adjacent in sort order despite a blocking
    # key on last-token+first-char splitting them is the SNM win
    assert any(a == 1 and b == 3 for a, b, _ in got)


def test_theil_sen_bruteforce(spark):
    """theil_sen's JVM array pair expansion + middle-element selection
    must equal the naive all-pairs median computed in pure Python,
    including even/odd pair counts and an outlier the OLS slope would
    chase but the median slope must shrug off."""
    import datetime
    import math

    from mpds_spark.operators.windows import theil_sen

    def t(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            seconds=s
        )

    rows = [
        # entity a: clean rising trend + one wild outlier (odd pairs)
        ("a", t(0), 1.00), ("a", t(3600), 2.00), ("a", t(7200), 3.00),
        ("a", t(10800), 500.00), ("a", t(14400), 5.00),
        # entity b: two points only (one pair)
        ("b", t(0), 10.00), ("b", t(60), 10.50),
        # entity c: four points (even pair count -> averaged median)
        ("c", t(0), 0.00), ("c", t(100), 1.23), ("c", t(200), -4.56),
        ("c", t(300), 7.89),
        # entity d: single point -> filtered out
        ("d", t(0), 99.0),
    ]
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts", "value"])
    got = {
        r["entity_id"]: r
        for r in theil_sen(spark.createDataFrame(pdf)).collect()
    }
    assert set(got) == {"a", "b", "c"}
    for ent in "abc":
        pts = [
            (
                int(r.ts.timestamp() * 1e6),
                int(math.copysign(
                    math.floor(abs(r.value) * 100 + 0.5), r.value
                )),
            )
            for r in pdf[pdf.entity_id == ent].itertuples()
        ]
        pts.sort()
        slopes = sorted(
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1:]
        )
        m = len(slopes)
        med = (slopes[(m + 1) // 2 - 1] + slopes[(m + 2) // 2 - 1]) / 2.0
        r = got[ent]
        assert r["n_obs"] == len(pts)
        assert r["n_pairs"] == m
        assert r["slope_per_day"] == med * 864000000.0
    # the outlier point contributes 4 of a's 10 slopes; the median must
    # stay near the clean 24-units/day trend, nowhere near the outlier
    assert 20.0 < got["a"]["slope_per_day"] < 30.0


def test_sax_symbols_matches_python(spark):
    """sax_symbols vs a pure-python PAA+SAX rebuild (population
    z-scores, quartile breakpoints) on series engineered to hit all
    four letters and a non-divisible segment split."""
    import datetime
    import math

    from mpds_spark.operators.windows import sax_symbols

    def t(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            seconds=s
        )

    series = {
        # rising ramp, n=16 (2 per segment)
        "up": [float(i) for i in range(16)],
        # n=10: segments get 2/1/1/2/1/1/1/1 points (non-divisible)
        "vee": [5.0, 3.0, 1.0, -2.0, -5.0, -5.0, -2.0, 1.0, 3.0, 5.0],
    }
    rows = [
        (e, t(60 * i), v)
        for e, vs in series.items()
        for i, v in enumerate(vs)
    ]
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts", "value"])
    got = {
        r["entity_id"]: r for r in sax_symbols(
            spark.createDataFrame(pdf)
        ).collect()
    }
    for e, vs in series.items():
        cents = [int(math.copysign(math.floor(abs(v) * 100 + 0.5), v))
                 for v in vs]
        n = len(cents)
        mu = sum(cents) / n
        var = (n * sum(c * c for c in cents) - sum(cents) ** 2) / (n * n)
        sd = math.sqrt(var)
        segs = {}
        for i, c in enumerate(cents):
            segs.setdefault(i * 8 // n, []).append(c)
        word = ""
        for s in sorted(segs):
            z = (sum(segs[s]) / len(segs[s]) - mu) / sd
            word += ("a" if z < -0.6745 else "b" if z < 0 else
                     "c" if z < 0.6745 else "d")
        assert got[e]["n_obs"] == n
        assert got[e]["sax"] == word
    assert got["up"]["sax"] == "aabbccdd"


def test_holt_trend_matches_python_recursion(spark):
    """holt_trend's struct fold vs the explicit sequential recursion in
    pure Python (bit-equal — the IEEE op order is pinned)."""
    import datetime

    from mpds_spark.operators.windows import holt_trend

    def t(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            seconds=s
        )

    vals = [10.00, 12.50, 11.25, 15.00, 18.75, 17.50, 21.00, 24.30]
    rows = [("e", t(3600 * i), v) for i, v in enumerate(vals)] + [
        ("solo", t(0), 42.00)
    ]
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts", "value"])
    got = {
        r["entity_id"]: r
        for r in holt_trend(spark.createDataFrame(pdf)).collect()
    }
    cents = [round(v * 100) for v in vals]
    l, b = float(cents[0]), 0.0
    for v in cents[1:]:
        ln = 0.25 * v + 0.75 * (l + b)
        b = 0.125 * (ln - l) + 0.875 * b
        l = ln
    assert got["e"]["n_events"] == len(vals)
    assert got["e"]["level"] == l / 100.0
    assert got["e"]["trend"] == b / 100.0
    assert got["e"]["forecast_1"] == (l + b) / 100.0
    # the trending series forecasts ABOVE its last level (EWMA wouldn't)
    assert got["e"]["forecast_1"] > got["e"]["level"]
    # single-point entity: level = the point, trend 0
    assert got["solo"]["level"] == 42.0 and got["solo"]["trend"] == 0.0


def test_burst_detect_planted(spark):
    """burst_detect vs an explicit python fold on planted patterns:
    a clean burst, a mid-burst pause between the two thresholds that
    must NOT split (the hysteresis point), and a no-burst stream."""
    import datetime

    from mpds_spark.operators.windows import burst_detect

    def t(h):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            hours=h
        )

    series = {
        # burst of 4 quick events, 5h pause (between 2h on / 10h off:
        # must stay IN burst), 2 more quick, then 12h gap closes it
        "hyst": [0, 1, 2, 3, 8, 9, 10, 22, 40],
        # all gaps 8h: never opens
        "calm": [0, 8, 16, 24],
        # two separate bursts split by a 12h gap
        "two": [0, 1, 2, 14, 15, 16],
        "solo": [0],
    }
    rows = [(e, t(h)) for e, hs in series.items() for h in hs]
    pdf = pd.DataFrame(rows, columns=["entity_id", "ts"])
    got = {
        r["entity_id"]: r
        for r in burst_detect(
            spark.createDataFrame(pdf),
            t_on_us=2 * 3600 * 1000000,
            t_off_us=10 * 3600 * 1000000,
        ).collect()
    }
    on, off = 2, 10
    for e, hs in series.items():
        in_b, nb, ev = 0, 0, 0
        for a, b in zip(hs, hs[1:]):
            g = b - a
            if in_b == 0 and g <= on:
                in_b, nb, ev = 1, nb + 1, ev + 2
            elif in_b == 1 and g < off:
                ev += 1
            elif in_b == 1:
                in_b = 0
        r = got[e]
        assert (r["n_bursts"], r["events_in_burst"]) == (nb, ev), e
        assert r["burst_pct"] == 100.0 * ev / len(hs)
    # the hysteresis case: ONE burst spanning the 5h pause, 7 events in
    assert (got["hyst"]["n_bursts"], got["hyst"]["events_in_burst"]) \
        == (1, 7)
    assert got["two"]["n_bursts"] == 2
    assert got["calm"]["n_bursts"] == 0
