import numpy as np
import pytest

import oracles
from conftest import make_entity_series

from mpds_spark.operators.asof import LeakageError
from mpds_spark.operators.backfill import interpolate, locf


def test_locf_with_expiration_matches_reference(spark):
    pdf = make_entity_series(null_frac=0.4)
    df = spark.createDataFrame(pdf)
    got = (
        locf(df, value="value", valid_time=20.0)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    o_locf, o_tsls, o_expir = oracles.locf_with_expiration(
        s["entity_id"].to_numpy(), s["ts"].to_numpy(), s["value"].to_numpy(), 20.0
    )
    np.testing.assert_allclose(got["value_locf"].to_numpy(dtype=float), o_locf)
    np.testing.assert_allclose(
        got["value_time_since_sample"].to_numpy(dtype=float), o_tsls
    )
    np.testing.assert_allclose(
        got["value_locf_expir"].to_numpy(dtype=float), o_expir
    )


def test_locf_default_fills_leading_nulls(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "entity_id": ["a", "a", "a"],
            "ts": [1.0, 2.0, 3.0],
            "value": [np.nan, 5.0, np.nan],
        }
    )
    got = (
        locf(spark.createDataFrame(pdf), value="value", default=-1.0)
        .orderBy("ts")
        .toPandas()
    )
    assert got["value_locf"].tolist() == [-1.0, 5.0, 5.0]


def test_interpolate_matches_reference(spark):
    pdf = make_entity_series(null_frac=0.5)
    df = spark.createDataFrame(pdf)
    got = (
        interpolate(df, value="value", default=0.0, leakage_ok=True)
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    s = pdf.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    expected = np.concatenate(
        [
            oracles.interpolate_single(
                g["ts"].to_numpy(), g["value"].to_numpy(), 0.0
            )
            for _, g in s.groupby("entity_id", sort=True)
        ]
    )
    np.testing.assert_allclose(
        got["value_interp"].to_numpy(dtype=float), expected, rtol=1e-12
    )


def test_interpolate_all_null_entity_gets_default(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "entity_id": ["a", "a"],
            "ts": [1.0, 2.0],
            "value": [None, None],
        }
    )
    got = (
        interpolate(
            spark.createDataFrame(
                pdf, "entity_id string, ts double, value double"
            ),
            value="value",
            default=3.5,
            leakage_ok=True,
        )
        .orderBy("ts")
        .toPandas()
    )
    assert got["value_interp"].tolist() == [3.5, 3.5]


def test_interpolate_null_between_rows_at_its_ts_is_nan(spark):
    """A null whose previous and next known rows share its ts has
    xn - xp = 0 over a zero numerator: the reference's 0/0 = NaN, where a
    plain division fails the action under ANSI mode. One input partition
    keeps the tie's input order through the (stable) window sort, so the
    null sits between the two known rows at ts 20, as in the reference."""
    import pandas as pd

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    pdf = pd.DataFrame(
        {
            "entity_id": "a",
            "ts": [10.0, 20.0, 20.0, 20.0, 30.0],
            "value": [1.0, 2.0, None, 2.0, 5.0],
        }
    )
    df = spark.createDataFrame(
        pdf, "entity_id string, ts double, value double"
    ).coalesce(1)
    got = (
        interpolate(df, value="value", leakage_ok=True)
        .orderBy("ts")
        .toPandas()["value_interp"]
        .to_numpy(dtype=float)
    )
    expected = oracles.interpolate_single(
        pdf["ts"].to_numpy(), pdf["value"].to_numpy(dtype=float), 0.0
    )
    assert np.isnan(expected[2])
    np.testing.assert_array_equal(np.sort(got), np.sort(expected))


def test_interpolate_requires_leakage_opt_in(spark):
    df = spark.createDataFrame(make_entity_series())
    with pytest.raises(LeakageError):
        interpolate(df, value="value")


def test_densify_daily_zero_fills_gaps(spark):
    """The dense grid covers every bucket between an entity's first and
    last event inclusive, with exact zero-fill on silent buckets, and
    never extends past the entity's own span (no global min/max)."""
    import datetime as dt

    from mpds_spark.operators.backfill import densify_daily

    day = 86400
    base = dt.datetime(2024, 6, 1)  # midnight -> bucket-aligned
    rows = [
        # entity 1: days 0, 0, 3 -> grid 0..3 with days 1,2 silent
        (1, base + dt.timedelta(hours=1), 100),
        (1, base + dt.timedelta(hours=2), -50),
        (1, base + dt.timedelta(days=3, hours=5), 700),
        # entity 2: single event -> 1-row grid
        (2, base + dt.timedelta(days=10), 9),
        # entity 3: events exactly at midnight boundaries (days 5 and 6)
        (3, base + dt.timedelta(days=5), 11),
        (3, base + dt.timedelta(days=6), 13),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, c long")
    out = densify_daily(
        df, ts="ts", entity="user_id", value="c", bucket_s=day
    ).collect()
    got = {(r["user_id"], r["bucket_start_s"]): r for r in out}
    b0 = int((base - dt.datetime(1970, 1, 1)).total_seconds())
    assert len(got) == 4 + 1 + 2
    assert got[(1, float(b0))]["n_events"] == 2
    assert int(got[(1, float(b0))]["sum_value"]) == 50
    for d in (1, 2):
        r = got[(1, float(b0 + d * day))]
        assert r["n_events"] == 0 and int(r["sum_value"]) == 0
    assert got[(1, float(b0 + 3 * day))]["n_events"] == 1
    assert got[(2, float(b0 + 10 * day))]["n_events"] == 1
    assert got[(3, float(b0 + 5 * day))]["n_events"] == 1
    assert got[(3, float(b0 + 6 * day))]["n_events"] == 1
