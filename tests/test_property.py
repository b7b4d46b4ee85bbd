"""Randomized differential property tests (hypothesis) — engine kernels vs
the literal loop transcriptions in oracles.py, plus Spark-level properties
for the sessionize family, derived_features and locf."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# stable examples per run: this suite is a commit gate, not a fuzzing
# campaign — new counterexamples belong in explicit regression cases
settings.register_profile("gate", derandomize=True)
settings.load_profile("gate")

import oracles

from mpds_spark.functions import kernels as K
from mpds_spark.functions import mlstats as S
from mpds_spark.functions.battery import reaction_lags
from mpds_spark.operators.sessionize import (
    remove_short_on_intervals,
    unite_adjacent_on_intervals,
)

f64 = st.floats(-1e6, 1e6, allow_nan=False, width=64)


@settings(max_examples=25, deadline=None)
@given(st.lists(f64, min_size=8, max_size=500), st.randoms())
def test_fastdfa_equals_loop(xs, _r):
    from hypothesis import assume

    x = np.asarray(xs)
    # degenerate inputs (piecewise-linear cumsum) leave residuals at machine
    # epsilon — alpha is FP noise in ANY implementation (incl. the C
    # reference); only compare when fluctuations carry signal
    y = np.cumsum(x)
    from mpds_spark.functions.kernels import _dfa_flucts, _dfa_intervals

    fl = _dfa_flucts(y, _dfa_intervals(len(y)))
    assume(np.min(fl) > 1e-9 * (np.abs(y).max() + 1.0))
    got = K.fastdfa(x)
    exp = oracles.fastdfa_loop(x)
    # vectorized vs scalar accumulation orders diverge ~1e-9 relative on
    # adversarial dynamic-range inputs (residual cancellation); alpha is
    # O(1), so 1e-6 still pins the semantics
    np.testing.assert_allclose(got, exp, rtol=1e-6, atol=1e-9)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.floats(0.01, 10.0, allow_nan=False), min_size=3, max_size=200),
    st.lists(f64, min_size=3, max_size=200),
)
def test_tap_segments_equals_loop(gaps, xs):
    n = min(len(gaps), len(xs))
    t = np.cumsum(np.asarray(gaps[:n]))
    x = np.asarray(xs[:n])
    gs, gm = K.tap_segments(t, x)
    es, em = oracles.tap_segments_loop(t, x)
    np.testing.assert_allclose(gs, es)
    np.testing.assert_allclose(gm, em)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 1)),
             min_size=1, max_size=300),
)
def test_reaction_lags_equals_loop(vp):
    v = np.array([a for a, _ in vp])
    p = np.array([b for _, b in vp])
    t = np.arange(len(vp), dtype=float) * 0.37
    np.testing.assert_allclose(
        reaction_lags(t, v, p), oracles.reaction_lags_loop(t, v, p)
    )


@settings(max_examples=50, deadline=None)
@given(st.lists(f64, min_size=2, max_size=200), st.floats(0.5, 99.5))
def test_prctile_properties(xs, p):
    x = np.asarray(xs)
    v = S.prctile(x, p)[0]
    assert x.min() <= v <= x.max()
    # monotone in p
    assert S.prctile(x, min(p + 0.4, 100.0))[0] >= v - 1e-9


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(0, 1), min_size=5, max_size=60),
    st.floats(1.0, 50.0),
    st.integers(0, 10_000),
)
def test_sessionize_family_property(spark, sig, th, seed):
    rng = np.random.default_rng(seed)
    n = len(sig)
    pdf = pd.DataFrame(
        {
            "entity_id": ["e0"] * n,
            "ts": np.cumsum(rng.uniform(0.5, 20.0, n)),
            "signal": np.asarray(sig, dtype=float),
        }
    )
    df = spark.createDataFrame(pdf)
    got_rs = (
        remove_short_on_intervals(df, time_th=th, leakage_ok=True)
        .orderBy("ts")
        .toPandas()["signal_clean"]
        .to_numpy()
    )
    exp_rs = oracles.remove_short_on_intervals(
        pdf["entity_id"].to_numpy(), pdf["ts"].to_numpy(),
        pdf["signal"].to_numpy(), th,
    )
    np.testing.assert_array_equal(got_rs, exp_rs)
    got_ua = (
        unite_adjacent_on_intervals(df, union_th=th, leakage_ok=True)
        .orderBy("ts")
        .toPandas()["signal_united"]
        .to_numpy()
    )
    exp_ua = oracles.unite_adjacent_on_intervals(
        pdf["entity_id"].to_numpy(), pdf["ts"].to_numpy(),
        pdf["signal"].to_numpy(), th,
    )
    np.testing.assert_array_equal(got_ua, exp_ua)


_FEATS = [
    "dss_avg", "dss_ht_avg", "dss_ht_sq_avg", "dss_max", "dss_min",
    "dss_rate_avg", "dss_rate_ht_avg", "dss_abs_rate_avg", "dss_abs_rate_ht_avg",
]


def _entity_frame(series) -> pd.DataFrame:
    """One (entity_id, ts, value) frame from per-entity lists of (gap, value):
    ts is the running sum of the gaps, so it is distinct within an entity.
    Rows are reversed so the operator, not the input order, sorts them."""
    frames = [
        pd.DataFrame({
            "entity_id": f"e{k}",
            "ts": np.cumsum([g for g, _ in rows]),
            "value": [v for _, v in rows],
        })
        for k, rows in enumerate(series)
    ]
    return pd.concat(frames, ignore_index=True).iloc[::-1]


# Quarter-unit values and half-unit gaps keep v*t*t and every running sum
# exact in a double, so the engine's (v*t)*t and the oracle's v*(t**2) agree
# to the last bit and rtol=1e-12 tests the semantics, not rounding order.
_quarters = st.integers(-10_000, 10_000).map(lambda k: k / 4)
_gaps = st.integers(1, 1_000).map(lambda k: k / 2)
# short gaps and a valid_time on the same grid: a time since the last
# sample often equals valid_time exactly, the expiry boundary
_short_gaps = st.integers(1, 8).map(lambda k: k / 2)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.tuples(_gaps, _quarters), min_size=1, max_size=25),
        min_size=1,
        max_size=10,
    )
)
def test_derived_features_equals_reference(spark, series):
    from mpds_spark.operators.windows import derived_features

    pdf = _entity_frame(series)
    got = (
        derived_features(spark.createDataFrame(pdf), value="value")
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"])
    want = pd.concat(
        [oracles.derived_features(g, value="value", ts="ts")
         for _, g in s.groupby("entity_id")],
        ignore_index=True,
    )
    for c in _FEATS:
        np.testing.assert_allclose(
            got[c].to_numpy(), want[c].to_numpy(), rtol=1e-12, err_msg=c
        )


def test_derived_features_reapplied_keeps_column_order(spark):
    """Feature columns already in the input are replaced in place; new ones
    are appended in the reference order. So applying the operator to its own
    output leaves the column order as it was."""
    from mpds_spark.operators.windows import derived_features

    pdf = _entity_frame([[(1.0, 2.0), (2.0, -1.0)], [(0.5, 3.0)]])
    pdf.insert(1, "dss_max", 0.0)
    once = derived_features(spark.createDataFrame(pdf), value="value")
    assert once.columns == (
        ["entity_id", "dss_max", "ts", "value"]
        + [c for c in _FEATS if c != "dss_max"]
    )
    assert derived_features(once, value="value").columns == once.columns


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.tuples(_short_gaps, st.one_of(st.none(), _quarters)),
            min_size=1,
            max_size=25,
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 16).map(lambda k: k / 2),
)
def test_locf_equals_reference(spark, series, valid_time):
    from mpds_spark.operators.backfill import locf

    pdf = _entity_frame(series)
    pdf["value"] = pdf["value"].astype("float64")
    got = (
        locf(spark.createDataFrame(pdf), value="value", valid_time=valid_time)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    want = oracles.locf_with_expiration(
        s["entity_id"].to_numpy(), s["ts"].to_numpy(), s["value"].to_numpy(),
        valid_time,
    )
    for c, w in zip(
        ["value_locf", "value_time_since_sample", "value_locf_expir"], want
    ):
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), w, rtol=1e-12, equal_nan=True,
            err_msg=c,
        )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.tuples(_short_gaps, st.one_of(st.none(), _quarters)),
            min_size=1,
            max_size=25,
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(-20, 20).map(lambda k: k / 4),
)
def test_interp_kernel_equals_reference_loop(spark, series, default):
    """Random null patterns (leading, trailing, interior runs, all-null
    entities) through the window plan against the reference loop."""
    from mpds_spark.operators.backfill import interpolate

    pdf = _entity_frame(series)
    pdf["value"] = pdf["value"].astype("float64")
    got = (
        interpolate(
            spark.createDataFrame(pdf), value="value", default=default,
            leakage_ok=True,
        )
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    want = np.concatenate([
        oracles.interpolate_single(
            g["ts"].to_numpy(), g["value"].to_numpy(), default
        )
        for _, g in s.groupby("entity_id", sort=True)
    ])
    np.testing.assert_allclose(
        got["value_interp"].to_numpy(dtype=float), want, rtol=1e-12
    )


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.lists(st.integers(0, 6), min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 6),
)
def test_winnow_equals_reference_loop(spark, docs_ints, w):
    """Winnowing (Schleimer et al. 2003) fuzz: Spark output equals the
    literal per-window min / rightmost-tie-break / full-window loop on
    random small-alphabet docs (small alphabet forces heavy hash TIES —
    the branch the deterministic test barely exercises)."""
    import hashlib

    n = 2

    def py_winnow(words):
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        if not hs:
            return set()
        out = set()
        for p in range(max(len(hs) - w, 0) + 1):
            win = hs[p : p + w]
            m = min(win)
            ri = max(i for i, h in enumerate(win) if h == m)
            out.add((p + ri, m))
        return out

    from mpds_spark.operators.text import winnow_fingerprints

    rows = [
        (i, " ".join(f"t{v}" for v in doc)) for i, doc in enumerate(docs_ints)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in winnow_fingerprints(df, n=n, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fingerprint"]))
    for i, doc in enumerate(docs_ints):
        words = [f"t{v}" for v in doc]
        assert got.get(i, set()) == py_winnow(words), (i, w)


def test_temporal_split_ordering_invariant(spark):
    """Every train row strictly precedes every test row per entity; the
    integer cut gives floor(pct*n/100) train rows (single-row entities
    land in test); and the labeling is deterministic under timestamp
    ties via the tiebreak column."""
    import datetime as dt

    from mpds_spark.operators.sampling import temporal_split

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    sizes = {1: 1, 2: 4, 3: 5, 4: 10, 5: 23}
    for uid, n in sizes.items():
        for i in range(n):
            # tie pairs: every second row shares its predecessor's ts
            t = base + dt.timedelta(seconds=(i // 2) * 60)
            rows.append((eid, uid, t))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = temporal_split(
        df, ts="ts", entity="user_id", train_frac_pct=80,
        tiebreak="event_id",
    ).collect()
    by_uid = {}
    for r in out:
        by_uid.setdefault(r["user_id"], []).append(r)
    for uid, n in sizes.items():
        rs = sorted(by_uid[uid], key=lambda r: r["split_rank"])
        n_train = sum(1 for r in rs if r["split"] == "train")
        assert n_train == (80 * n) // 100, uid
        # ranks follow (ts, event_id): event_id ascending here
        assert [r["event_id"] for r in rs] == sorted(
            r["event_id"] for r in rs
        )
        # train block is a strict prefix
        labels = [r["split"] for r in rs]
        assert labels == ["train"] * n_train + ["test"] * (n - n_train)
