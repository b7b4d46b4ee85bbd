import numpy as np
import pandas as pd
import pytest

from mpds_spark.operators.asof import LeakageError, asof_join


def _random_two_tables(seed=3, n_entities=5, n_left=60, n_right=25):
    rng = np.random.default_rng(seed)
    ents = [f"e{i}" for i in range(n_entities)]
    left = pd.DataFrame(
        {
            "entity_id": rng.choice(ents, n_left),
            "ts": rng.uniform(0, 1000, n_left).round(3),
            "lval": rng.normal(size=n_left).round(4),
        }
    )
    # one entity appears only on the left (no-match case)
    right = pd.DataFrame(
        {
            "entity_id": rng.choice(ents[:-1], n_right),
            "ts": rng.uniform(0, 1000, n_right).round(3),
            "rval": rng.normal(size=n_right).round(4),
            "rtag": rng.choice(["x", "y", "z"], n_right),
        }
    )
    return left, right


def _pandas_asof(left, right, direction, tolerance=None, allow_exact=True):
    out = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts").rename(columns={"ts": "ts_r"}),
        left_on="ts",
        right_on="ts_r",
        by="entity_id",
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=allow_exact,
    )
    return out.sort_values(["entity_id", "ts"]).reset_index(drop=True)


_ASOF_CASES = [
    ("backward", None, True),
    ("backward", 50.0, True),
    ("backward", None, False),
    ("forward", None, True),
    ("forward", 30.0, False),
    ("nearest", None, True),
    ("nearest", 40.0, True),
    ("nearest", None, False),
]


# each id ends in the physical plan under test: the window plan
@pytest.mark.parametrize(
    "direction,tolerance,allow_exact",
    _ASOF_CASES,
    ids=[f"{d}-{t}-{a}-window" for d, t, a in _ASOF_CASES],
)
def test_asof_join_matches_pandas(spark, direction, tolerance, allow_exact):
    left, right = _random_two_tables()
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            direction=direction,
            tolerance=tolerance,
            allow_exact_matches=allow_exact,
            leakage_ok=True,
        )
        .orderBy("entity_id", "ts")
        .toPandas()
    )
    exp = _pandas_asof(left, right, direction, tolerance, allow_exact)
    np.testing.assert_allclose(
        got["rval"].to_numpy(dtype=float), exp["rval"].to_numpy(dtype=float)
    )
    np.testing.assert_allclose(
        got["ts_r"].to_numpy(dtype=float), exp["ts_r"].to_numpy(dtype=float)
    )
    assert got["rtag"].fillna("∅").tolist() == exp["rtag"].fillna("∅").tolist()


def test_asof_join_exact_ties(spark):
    left = pd.DataFrame(
        {"entity_id": ["a", "a"], "ts": [5.0, 6.0], "lval": [1.0, 2.0]}
    )
    right = pd.DataFrame(
        {"entity_id": ["a", "a"], "ts": [5.0, 6.0], "rval": [10.0, 20.0]}
    )
    got = (
        asof_join(spark.createDataFrame(left), spark.createDataFrame(right))
        .orderBy("ts")
        .toPandas()
    )
    assert got["rval"].tolist() == [10.0, 20.0]
    strict = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            allow_exact_matches=False,
        )
        .orderBy("ts")
        .toPandas()
    )
    assert np.isnan(strict["rval"].iloc[0]) and strict["rval"].iloc[1] == 10.0


def test_asof_join_timestamp_on_column(spark):
    base = pd.Timestamp("2024-01-01")
    left = pd.DataFrame(
        {
            "entity_id": ["a"] * 3,
            "ts": [base + pd.Timedelta(seconds=s) for s in (10, 100, 1000)],
            "lval": [1.0, 2.0, 3.0],
        }
    )
    right = pd.DataFrame(
        {
            "entity_id": ["a"] * 2,
            "ts": [base + pd.Timedelta(seconds=s) for s in (50, 500)],
            "rval": [7.0, 8.0],
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            tolerance=200.0,
        )
        .orderBy("ts")
        .toPandas()
    )
    assert np.isnan(got["rval"].iloc[0])  # nothing before
    assert got["rval"].iloc[1] == 7.0  # 50 <= 100, within 200s
    assert np.isnan(got["rval"].iloc[2])  # 500 <= 1000 but gap 500 > 200

def test_asof_join_forward_requires_leakage_opt_in(spark):
    left, right = _random_two_tables()
    with pytest.raises(LeakageError):
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            direction="forward",
        )


def test_asof_join_composite_by_key(spark):
    """by=[...] composite keys: matches must respect BOTH key columns."""
    import pandas as pd

    lpdf = pd.DataFrame(
        {
            "entity_id": ["a", "a", "b"],
            "region": ["x", "y", "x"],
            "ts": [10.0, 10.0, 10.0],
        }
    )
    rpdf = pd.DataFrame(
        {
            "entity_id": ["a", "a", "b"],
            "region": ["x", "y", "y"],
            "ts": [5.0, 6.0, 7.0],
            "rv": [1.0, 2.0, 3.0],
        }
    )
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    out = (
        asof_join(left, right, on="ts", by=["entity_id", "region"])
        .orderBy("entity_id", "region")
        .toPandas()
    )
    # (a,x)->1, (a,y)->2, (b,x)-> no match (b's only ref is region y)
    assert out["rv"].tolist()[:2] == [1.0, 2.0]
    assert pd.isna(out["rv"].iloc[2])
