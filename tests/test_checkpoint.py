import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import make_entity_series

from mpds_spark.operators.windows import derived_features
from mpds_spark.runner.checkpoint import (
    read_lineage,
    read_output,
    run_partitioned,
)


def _transform(df):
    return derived_features(df.fillna(0.0, subset=["value"]), value="value")


def test_run_resume_and_invalidation(spark, tmp_path):
    pdf = make_entity_series(n_entities=10, rows_per=30)
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt")

    r1 = run_partitioned(spark, df, _transform, out, n_buckets=4, spec="v1")
    assert sorted(r1["processed"]) == [0, 1, 2, 3]
    assert r1["failed"] == []
    total1 = read_output(spark, out).count()
    assert total1 == len(pdf)

    # resume: nothing recomputes
    r2 = run_partitioned(spark, df, _transform, out, n_buckets=4, spec="v1")
    assert r2["processed"] == []
    assert sorted(r2["skipped"]) == [0, 1, 2, 3]

    # kill one manifest -> exactly that bucket recomputes, output equal
    lineage = read_lineage(out)
    assert len(lineage) == 4 and all(m["status"] == "done" for m in lineage)
    os.remove(os.path.join(out, "_lineage", "bucket_00002.json"))
    r3 = run_partitioned(spark, df, _transform, out, n_buckets=4, spec="v1")
    assert r3["processed"] == [2]
    assert read_output(spark, out).count() == total1

    # spec change invalidates all buckets
    r4 = run_partitioned(spark, df, _transform, out, n_buckets=4, spec="v2")
    assert sorted(r4["processed"]) == [0, 1, 2, 3]


def test_output_matches_unpartitioned(spark, tmp_path):
    pdf = make_entity_series(n_entities=8, rows_per=25, seed=3)
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt2")
    run_partitioned(spark, df, _transform, out, n_buckets=3, spec="v1")
    got = (
        read_output(spark, out)
        .orderBy("entity_id", "ts")
        .select("entity_id", "ts", "dss_avg", "dss_max")
        .toPandas()
    )
    exp = (
        _transform(df)
        .orderBy("entity_id", "ts")
        .select("entity_id", "ts", "dss_avg", "dss_max")
        .toPandas()
    )
    np.testing.assert_allclose(
        got["dss_avg"].to_numpy(), exp["dss_avg"].to_numpy(), rtol=1e-12
    )
    np.testing.assert_allclose(
        got["dss_max"].to_numpy(), exp["dss_max"].to_numpy(), rtol=1e-12
    )


def test_failed_bucket_recorded_and_retried(spark, tmp_path):
    pdf = make_entity_series(n_entities=6, rows_per=10, seed=5)
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt3")
    calls = {"n": 0}

    def flaky(part):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected failure")
        return _transform(part)

    r1 = run_partitioned(spark, df, flaky, out, n_buckets=3, spec="v1")
    assert len(r1["failed"]) == 1
    failed_bucket = r1["failed"][0]
    lineage = {m["bucket"]: m for m in read_lineage(out)}
    assert lineage[failed_bucket]["status"] == "failed"

    r2 = run_partitioned(spark, df, _transform, out, n_buckets=3, spec="v1")
    assert r2["processed"] == [failed_bucket]
    assert read_output(spark, out).count() == len(pdf)


def test_read_output_skips_stale_bucket_of_failed_rerun(spark, tmp_path):
    """A v2 rerun that fails on one bucket leaves that bucket's v1 parquet
    on disk under a failed manifest. read_output must return exactly the
    v2 rows of the buckets the rerun committed, none of the stale v1 rows."""
    pdf = make_entity_series(n_entities=8, rows_per=10, seed=11)
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt4")

    def tagged(spec):
        return lambda part: _transform(part).withColumn("spec", F.lit(spec))

    r1 = run_partitioned(spark, df, tagged("v1"), out, n_buckets=4, spec="v1")
    assert sorted(r1["processed"]) == [0, 1, 2, 3]
    calls = {"n": 0}

    def flaky_v2(part):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected failure")
        return tagged("v2")(part)

    r2 = run_partitioned(spark, df, flaky_v2, out, n_buckets=4, spec="v2")
    assert len(r2["failed"]) == 1
    failed = r2["failed"][0]
    assert not [f for f in os.listdir(os.path.join(out, "_lineage"))
                if f.endswith(".tmp")]
    stale = spark.read.parquet(os.path.join(out, f"bucket={failed}")).toPandas()
    assert len(stale) > 0 and set(stale["spec"]) == {"v1"}

    got = read_output(spark, out).toPandas()
    assert set(got["spec"]) == {"v2"}
    assert sorted(set(got["bucket"])) == sorted(r2["processed"])
    exp = pdf[~pdf["entity_id"].isin(set(stale["entity_id"]))]
    assert sorted(zip(got["entity_id"], got["ts"])) == sorted(
        zip(exp["entity_id"], exp["ts"])
    )
