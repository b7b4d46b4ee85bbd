import numpy as np
import pandas as pd
import pytest

import oracles
from conftest import make_entity_series

from mpds_spark.operators.asof import LeakageError
from mpds_spark.operators.sessionize import (
    event_response,
    interval_join,
    remove_short_on_intervals,
    sessionize,
    unite_adjacent_on_intervals,
)


def test_sessionize_gap_rule(spark):
    pdf = pd.DataFrame(
        {
            "entity_id": ["a"] * 5 + ["b"] * 2,
            "ts": [0.0, 10.0, 100.0, 105.0, 300.0, 0.0, 500.0],
        }
    )
    got = (
        sessionize(spark.createDataFrame(pdf), gap=50.0)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    assert got["session_id"].tolist() == [0, 0, 1, 1, 2, 0, 1]


@pytest.mark.parametrize("th", [5.0, 25.0, 60.0])
def test_remove_short_on_intervals_matches_reference(spark, th):
    pdf = make_entity_series(seed=11)
    df = spark.createDataFrame(pdf)
    got = (
        remove_short_on_intervals(
            df, signal="signal", time_th=th, leakage_ok=True
        )
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    expected = oracles.remove_short_on_intervals(
        s["entity_id"].to_numpy(), s["ts"].to_numpy(), s["signal"].to_numpy(), th
    )
    np.testing.assert_array_equal(got["signal_clean"].to_numpy(), expected)


@pytest.mark.parametrize("th", [2.0, 15.0, 50.0])
def test_unite_adjacent_on_intervals_matches_reference(spark, th):
    pdf = make_entity_series(seed=13)
    df = spark.createDataFrame(pdf)
    got = (
        unite_adjacent_on_intervals(
            df, signal="signal", union_th=th, leakage_ok=True
        )
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    expected = oracles.unite_adjacent_on_intervals(
        s["entity_id"].to_numpy(), s["ts"].to_numpy(), s["signal"].to_numpy(), th
    )
    np.testing.assert_array_equal(got["signal_united"].to_numpy(), expected)


@pytest.mark.parametrize(
    "op", [remove_short_on_intervals, unite_adjacent_on_intervals]
)
def test_interval_cleaners_require_leakage_opt_in(spark, op):
    """Both signal cleaners read later rows of the entity, so each refuses
    to run without leakage_ok, as interpolate does."""
    df = spark.createDataFrame(make_entity_series(seed=11))
    with pytest.raises(LeakageError):
        op(df)


@pytest.mark.parametrize("pre_post", [False, True])
def test_event_response_matches_reference(spark, pre_post):
    pdf = make_entity_series(seed=17, null_frac=0.0)
    pdf["value"] = pdf["value"].astype(float)
    df = spark.createDataFrame(pdf)
    wind = 40.0
    got = (
        event_response(
            df, value="value", event="event", wind=wind,
            pre_post=pre_post, leakage_ok=True,
        )
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    treat_idx = np.where(s["event"].to_numpy() == 1)[0]
    expected = oracles.response_to_treatment(
        s["entity_id"].to_numpy(),
        s["ts"].to_numpy(),
        s["value"].to_numpy(),
        treat_idx,
        wind,
        pre_post=pre_post,
    )
    assert len(got) == len(expected)
    cols = ["num_before", "num_after", "avg_before", "avg_after"]
    if pre_post:
        cols += ["avg_now", "trend_before", "trend_after"]
    for c in cols:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float),
            expected[c].to_numpy(dtype=float),
            rtol=1e-10,
            atol=1e-10,
            err_msg=c,
        )


def test_event_response_requires_leakage_opt_in(spark):
    df = spark.createDataFrame(make_entity_series())
    with pytest.raises(LeakageError):
        event_response(df)


def test_interval_join_counts(spark):
    obs = pd.DataFrame(
        {
            "entity_id": ["a"] * 5,
            "ts": [0.0, 1.0, 2.0, 3.0, 10.0],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    events = pd.DataFrame({"entity_id": ["a"], "ts": [1.0]})
    got = interval_join(
        spark.createDataFrame(events),
        spark.createDataFrame(obs),
        wind=2.5,
    ).toPandas()
    assert len(got) == 1
    assert got["n_obs"].iloc[0] == 2  # ts 2.0 and 3.0
    assert got["avg_value"].iloc[0] == pytest.approx(3.5)


def test_suffix_prefix_overlap_small(spark):
    """Overlap is the LARGEST k with suffix==prefix, capped at max_k,
    0 when nothing matches, and windows never cross the part key."""
    from mpds_spark.operators.pairs import suffix_prefix_overlap

    df = spark.createDataFrame(
        [
            ("s1", 0, ["a", "b", "c"]),
            ("s1", 1, ["b", "c", "d"]),   # suffix(0) [b,c] == prefix(1) -> 2
            ("s1", 2, ["z", "z"]),        # no overlap with doc 1 -> 0
            ("s2", 3, ["c", "d"]),        # other part: single row, no pair
        ],
        "source string, doc_id long, tokens array<string>",
    )
    out = suffix_prefix_overlap(
        df, tokens="tokens", part="source", order_cols=["doc_id"], max_k=8
    )
    rows = {r["doc_id"]: r["overlap"] for r in out.collect()}
    assert rows == {0: 2, 1: 0}


def test_session_stats_matches_bruteforce(spark):
    """Counts/durations agree with a brute-force gap-rule rederivation,
    including single-event sessions (duration 0) and the boundary where
    a gap of exactly `gap` seconds does NOT break the session."""
    import datetime as dt

    from mpds_spark.operators.sessionize import session_stats

    offsets = {
        # sessions: [0, 100, 1900(=100+1800 exact, same session)],
        # then 1901 s later -> new single-event session
        1: [0, 100, 1900, 3801],
        2: [0],  # one single-event session
        3: [0, 5000, 10000],  # three singletons
    }
    rows, eid = [], 0
    base = dt.datetime(2024, 7, 1)
    for uid, offs in offsets.items():
        for o in offs:
            rows.append((eid, uid, base + dt.timedelta(seconds=o)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in session_stats(
            df, entity="user_id", ts="ts", gap=1800.0
        ).collect()
    }
    import itertools

    for uid, offs in offsets.items():
        sessions = [[offs[0]]]
        for a, b in itertools.pairwise(offs):
            if b - a > 1800.0:
                sessions.append([b])
            else:
                sessions[-1].append(b)
        durs = [s[-1] - s[0] for s in sessions]
        r = got[uid]
        assert r["n_sessions"] == len(sessions)
        assert r["n_events"] == len(offs)
        assert r["mean_events"] == pytest.approx(
            len(offs) / len(sessions), abs=1e-12
        )
        assert r["mean_duration_s"] == pytest.approx(
            sum(durs) / len(sessions), abs=1e-9
        )
        assert r["max_duration_s"] == pytest.approx(max(durs), abs=1e-9)
    assert got[1]["n_sessions"] == 2  # the exactly-1800 gap held
    assert got[2]["max_duration_s"] == 0.0
    assert got[3]["n_sessions"] == 3


def test_nested_sessions_planted_relations(spark):
    """Planted two-scale timeline exercising every reachable Allen
    relation: coarse session A = one fine burst (equals); coarse B =
    three bursts (starts / during / finishes); singleton coarse C."""
    from mpds_spark.operators.sessionize import nested_sessions

    rows = []
    # coarse A: t in [0, 100], gaps <= 300 -> one fine session == coarse
    for t in [0.0, 50.0, 100.0]:
        rows.append(("u1", t))
    # coarse B starts at 3000 (gap 2900 > 1800): bursts
    #   [3000..3010], [3500..3510], [4000..4010] (gaps 490 in (300, 1800])
    for base in [3000.0, 3500.0, 4000.0]:
        rows.append(("u1", base))
        rows.append(("u1", base + 10.0))
    # coarse C: singleton far away
    rows.append(("u1", 10000.0))
    sdf = spark.createDataFrame(rows, ["entity_id", "ts"])
    out = nested_sessions(
        sdf, entity="entity_id", ts="ts", fine_gap=300.0, coarse_gap=1800.0
    ).collect()
    rel = {
        (r["coarse_id"], r["fine_id"]): r["relation"] for r in out
    }
    assert rel == {
        (0, 0): "equals",
        (1, 1): "starts",
        (1, 2): "during",
        (1, 3): "finishes",
        (2, 4): "equals",
    }
    for r in out:
        assert r["coarse_start"] <= r["fine_start"] <= r["fine_end"]
        assert r["fine_end"] <= r["coarse_end"]


def test_nested_sessions_nesting_invariant(spark):
    """On a random timeline every fine session nests in exactly one
    coarse session and fine/coarse ids are both non-decreasing; fine
    partitions of a coarse session tile it (first starts, last
    finishes)."""
    import numpy as np

    from mpds_spark.operators.sessionize import nested_sessions

    rng = np.random.default_rng(11)
    rows = []
    for e in range(4):
        t = np.cumsum(rng.exponential(400.0, size=120))
        rows += [(f"e{e}", float(x)) for x in t]
    sdf = spark.createDataFrame(rows, ["entity_id", "ts"])
    out = nested_sessions(sdf, entity="entity_id", ts="ts").collect()
    by_coarse = {}
    for r in out:
        by_coarse.setdefault((r["entity_id"], r["coarse_id"]), []).append(r)
    for (_, _), fines in by_coarse.items():
        fines.sort(key=lambda r: r["fine_start"])
        assert fines[0]["fine_start"] == fines[0]["coarse_start"]
        assert fines[-1]["fine_end"] == fines[-1]["coarse_end"]
        for a, b in zip(fines, fines[1:]):
            assert a["fine_end"] < b["fine_start"]  # disjoint, ordered
        labels = {r["relation"] for r in fines}
        if len(fines) == 1:
            assert labels == {"equals"}
        else:
            assert "equals" not in labels


def test_nested_sessions_rejects_inverted_gaps(spark):
    import pytest as _pytest

    from mpds_spark.operators.sessionize import nested_sessions

    sdf = spark.createDataFrame([("a", 1.0)], ["entity_id", "ts"])
    with _pytest.raises(ValueError):
        nested_sessions(sdf, fine_gap=600.0, coarse_gap=300.0)


def test_interval_overlap_brute_force(spark):
    """interval_overlap's one-pass union-timeline sweep must reproduce
    the direct computation: per entity/side merge the [ts, ts+dur)
    windows, measure each union, intersect the merged interval lists
    pairwise, Jaccard — all in exact integer microseconds."""
    from mpds_spark.operators.sessionize import interval_overlap

    rng = np.random.default_rng(23)
    dur = 120.0
    rows = []
    for e in range(8):
        for _ in range(int(rng.integers(1, 25))):
            rows.append(
                (
                    f"e{e}",
                    # exact integer microseconds: both engines convert
                    # losslessly, so the oracle's int arithmetic is exact
                    int(rng.integers(0, 4000)) * 1_000_000
                    + int(rng.integers(0, 1_000_000)),
                    rng.choice(["view", "click", "other"]),
                )
            )
    pdf = pd.DataFrame(rows, columns=["entity_id", "us", "event_type"])
    pdf["ts"] = pdf["us"] / 1e6
    sdf = spark.createDataFrame(
        pdf[["entity_id", "us", "event_type"]]
    ).selectExpr("entity_id", "timestamp_micros(us) AS ts", "event_type")
    got = (
        interval_overlap(sdf, duration=dur)
        .orderBy("entity_id")
        .toPandas()
        .set_index("entity_id")
    )

    def merged(ts_list):
        ivs = sorted(
            (int(round(t * 1e6)), int(round(t * 1e6)) + int(dur * 1e6))
            for t in ts_list
        )
        out = []
        for s, e in ivs:
            if out and s <= out[-1][1]:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
        return out

    def inter(a, b):
        tot, i, j = 0, 0, 0
        while i < len(a) and j < len(b):
            lo = max(a[i][0], b[j][0])
            hi = min(a[i][1], b[j][1])
            if lo < hi:
                tot += hi - lo
            if a[i][1] < b[j][1]:
                i += 1
            else:
                j += 1
        return tot

    seen = 0
    for e, g in pdf.groupby("entity_id"):
        av = g[g.event_type == "view"]["ts"].tolist()
        bv = g[g.event_type == "click"]["ts"].tolist()
        if not av and not bv:
            assert e not in got.index
            continue
        seen += 1
        ma, mb = merged(av), merged(bv)
        aus = sum(t[1] - t[0] for t in ma)
        bus = sum(t[1] - t[0] for t in mb)
        ous = inter(ma, mb)
        r = got.loc[e]
        assert (r["n_a"], r["n_b"]) == (len(av), len(bv))
        assert abs(r["a_seconds"] - aus / 1e6) < 1e-9
        assert abs(r["b_seconds"] - bus / 1e6) < 1e-9
        assert abs(r["overlap_seconds"] - ous / 1e6) < 1e-9
        un = aus + bus - ous
        want_j = ous / un if un > 0 else 0.0
        assert abs(r["time_jaccard"] - want_j) < 1e-12
    assert len(got) == seen


def test_peak_concurrency_bruteforce(spark):
    """Sweep result must match direct interval-overlap counting; ends
    must not stack with starts at the same instant (back-to-back
    windows)."""
    from mpds_spark.operators.sessionize import peak_concurrency

    rng = np.random.default_rng(53)
    dur = 100.0
    ts = sorted(float(t) for t in rng.integers(0, 3 * 86400, 200))
    # planted back-to-back pair: second starts exactly when first ends
    ts += [500000.0, 500100.0]
    pdf = pd.DataFrame({"ts": ts})
    sdf = spark.createDataFrame(pdf).selectExpr(
        "to_timestamp(ts) AS ts"
    )
    got = {
        r["day"]: (r["peak_concurrent"], r["peak_at_us"])
        for r in peak_concurrency(sdf, duration=dur).collect()
    }

    us = sorted(int(t * 1e6) for t in ts)
    dur_us = int(dur * 1e6)
    # concurrency evaluated at each window start (ends close first)
    best = {}
    for t0 in us:
        c = sum(1 for t in us if t <= t0 < t + dur_us)
        day = t0 // 86400000000
        cur = best.get(day)
        if cur is None or c > cur[0] or (c == cur[0] and t0 < cur[1]):
            best[day] = (c, t0)
    assert got == best
    # the back-to-back pair alone would give concurrency 1, not 2
    solo = spark.createDataFrame(
        pd.DataFrame({"ts": [0.0, 100.0]})
    ).selectExpr("to_timestamp(ts) AS ts")
    r = peak_concurrency(solo, duration=100.0).collect()[0]
    assert r["peak_concurrent"] == 1
