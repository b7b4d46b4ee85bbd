"""The benchmark's own tests: self-time arithmetic, SQL-metric-to-layer
mapping on a tiny plan, and the verifier rejecting perturbed outputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import verify
from perfbench.tracing import (
    SqlMetrics, layer_of, ladder_self_times, parse_metric, summarize,
)


# ------------------------------------------------------------ self times
def test_ladder_self_times_are_rung_differences():
    rungs = [("sources", 1.0), ("battery", 3.0), ("windows", 3.5), ("asof", 5.0)]
    got = ladder_self_times(rungs)
    assert got == pytest.approx({"sources": 1.0, "battery": 2.0, "windows": 0.5, "asof": 1.5})
    assert sum(got.values()) == pytest.approx(5.0)


def test_ladder_keeps_negative_noise():
    got = ladder_self_times([("sources", 1.0), ("battery", 0.9)])
    assert got["battery"] == pytest.approx(-0.1)


# ------------------------------------------------------- metric mapping
@pytest.mark.parametrize("name, layer", [
    ("MapInArrow", "battery"),
    ("Window", "windows"),
    ("Exchange", "exchange"),
    ("ShuffleExchange", "exchange"),
    ("Sort", "sort"),
    ("SortMergeJoin", None),
    ("SortAggregate", None),
    ("Scan parquet", "sources"),
    ("Project", None),
])
def test_layer_of(name, layer):
    assert layer_of(name) == layer


def test_parse_metric_takes_the_total():
    text = "total (min, med, max (stageId: taskId))\n1.5 KiB (256.0 B, 512.0 B, 768.0 B (stage 1.0: task 3))"
    assert parse_metric("size", text) == 1536.0
    assert parse_metric("timing", "2.5 s") == 2.5
    assert parse_metric("nsTiming", "total\n120 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.12)
    assert parse_metric("sum", "1,234") == 1234.0


def test_summarize_counts_shape_and_sums_bytes():
    plan_a = [("MapInArrow", {"data sent to Python workers": 10.0}),
              ("MapInArrow", {"data sent to Python workers": 5.0}),
              ("Exchange", {"shuffle bytes written": 7.0}), ("Window", {})]
    plan_b = [("Exchange", {"shuffle bytes written": 3.0}), ("Sort", {"spill size": 2.0})]
    s = summarize([plan_a, plan_b])
    assert (s["udf_nodes"], s["window_nodes"], s["exchange_nodes"], s["sort_nodes"]) == (2, 1, 1, 1)
    assert s["python_bytes_sent"] == 15.0
    assert s["shuffle_bytes"] == 10.0
    assert s["spill_bytes"] == 2.0


@pytest.fixture(scope="module")
def spark():
    from mpds_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[1]",
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def _identity(batches):
    yield from batches


def test_sql_metrics_of_a_tiny_plan(spark):
    """One MapInArrow, one Window and an Exchange under a noop write: the
    status store's plan maps onto the layers, with bytes sent to Python."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 200, 1, 4).select(
        (F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("v")
    )
    df = df.mapInArrow(_identity, df.schema)
    df = df.withColumn("c", F.sum("v").over(Window.partitionBy("k").orderBy("v")))
    sql = SqlMetrics(spark)
    df.write.format("noop").mode("overwrite").save()
    s = summarize(sql.since_mark())
    assert s["udf_nodes"] == 1
    assert s["window_nodes"] == 1
    assert s["exchange_nodes"] >= 1
    assert s["python_bytes_sent"] > 0
    assert s["python_bytes_received"] > 0
    assert sql.since_mark() == []  # nothing ran since the last read


# ------------------------------------------------------------ verifier
N, SEED, ENTS, HOT = 300, 5, 20, 0.05


@pytest.fixture(scope="module")
def engine_want():
    from mpds_spark.functions.battery import token_features

    ents = verify.sample_entities(SEED, ENTS)
    return verify.engine_reference(N, SEED, ENTS, HOT, ents, token_features)


def test_verifier_accepts_the_reference(engine_want):
    assert verify.check_engine(engine_want.copy(), engine_want) == []


@pytest.mark.parametrize("perturb", ["float", "key", "drop_row", "dup_row", "features"])
def test_verifier_rejects_perturbed_engine_output(engine_want, perturb):
    got = engine_want.copy()
    if perturb == "float":
        got.loc[got.index[3], "dss_ht_avg"] *= 1 + 1e-6
    elif perturb == "key":
        got.loc[got.index[2], "ts_r"] = got["ts"].iloc[2] + 1.0
    elif perturb == "drop_row":
        got = got.iloc[1:]
    elif perturb == "dup_row":
        got = got.iloc[list(range(len(got))) + [0]]
    else:
        f = np.array(got["features"].iloc[0], dtype=float)
        f[-1] += 1e-3
        got["features"] = [f] + list(got["features"].iloc[1:])
    assert verify.check_engine(got, engine_want) != []


def test_verifier_rejects_perturbed_narrow_output():
    ents = verify.sample_entities(SEED, 50)
    want = verify.narrow_reference(4_000, SEED, 50, HOT, 0.2, 0.1, ents,
                                   valid_time=100.0, gap=50.0, tolerance=250.0)
    assert verify.check_narrow(want.copy(), want) == []
    for col, delta in (("session_id", 1), ("dss_avg", 1e-6), ("value_locf", 0.5)):
        got = want.copy()
        got.loc[got.index[-1], col] += delta
        assert verify.check_narrow(got, want) != [], col
