import numpy as np
import pandas as pd
import pytest

from mpds_spark.functions.battery import extract_accel_features, token_features
from mpds_spark.operators.battery import (
    extract_accel_battery,
    extract_token_battery,
    score_dot,
    slice_modality,
    token_battery_array,
    token_battery_names,
)
from mpds_spark.sources.synth import synth_sequences


def test_token_battery_passthrough_and_allclose(spark):
    """BASELINE.json gates: token arrays exactly equal through the pipeline;
    feature vectors numpy-allclose to the direct numpy extraction."""
    df = synth_sequences(spark, 300, seed=42, n_entities=20)
    out = extract_token_battery(df).orderBy("doc_id").toPandas()
    src = df.orderBy("doc_id").toPandas()
    assert len(out) == 300
    for i in range(0, 300, 37):
        # exact token equality (pass-through invariant)
        np.testing.assert_array_equal(
            np.asarray(out["tokens"].iloc[i]), np.asarray(src["tokens"].iloc[i])
        )
        expected = token_features(np.asarray(src["tokens"].iloc[i]))
        got = np.asarray(out["features"].iloc[i], dtype=float)
        np.testing.assert_allclose(got, expected, rtol=1e-12, equal_nan=True)
    assert len(out["features"].iloc[0]) == len(token_battery_names())


def _expected_features(tokens):
    if tokens is None or len(tokens) == 0:
        return np.full(len(token_battery_names()), np.nan)
    return token_features(np.asarray(tokens))


def test_token_battery_array_multibatch_empty_null_and_sliced(spark):
    """Empty and null rows give all-NaN features, every other row matches
    scalar token_features, across several Arrow batches of one partition;
    tokens come back byte-identical with keep_tokens=True and the features
    are the same with keep_tokens=False."""
    import pyarrow as pa

    from mpds_spark.sources.synth import tokens_for

    toks = [tokens_for(i, 3 + 29 * i, 11).tolist() for i in range(9)]
    toks[2], toks[5], toks[6] = [], None, [7]
    df = spark.createDataFrame(
        list(enumerate(toks)), "doc_id int, tokens array<int>"
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        n_batches = df.mapInArrow(
            lambda it: (pa.RecordBatch.from_pydict({"n": [b.num_rows]}) for b in it),
            "n long",
        ).collect()
        kept = extract_token_battery(df).orderBy("doc_id").collect()
        dropped = (
            extract_token_battery(df, keep_tokens=False).orderBy("doc_id").collect()
        )
    finally:
        spark.conf.set(key, prev)
    assert len(n_batches) == 3
    assert dropped[0].asDict().keys() == {"doc_id", "features"}
    for row, row_d, src in zip(kept, dropped, toks):
        assert row["tokens"] == src  # byte-identical passthrough, None stays None
        exp = _expected_features(src)
        np.testing.assert_allclose(row["features"], exp, rtol=1e-12, equal_nan=True)
        np.testing.assert_array_equal(row_d["features"], row["features"])
    assert np.isnan(kept[2]["features"]).all() and np.isnan(kept[5]["features"]).all()

    # a list array with a nonzero slice offset (and a null row whose
    # offsets span values) through the array-level kernel the UDF runs
    sliced = pa.array(toks, type=pa.list_(pa.int32())).slice(3)
    assert sliced.offset == 3
    spanning = pa.ListArray.from_arrays(
        pa.array([0, 2, 5], pa.int32()), pa.array([1, 2, 3, 4, 5], pa.int32()),
        mask=pa.array([False, True]),
    )
    for col, src in ((sliced, toks[3:]), (spanning, [[1, 2], None])):
        out = token_battery_array(col)
        assert len(out) == len(src) and out.null_count == 0
        for got, s in zip(out.to_pylist(), src):
            np.testing.assert_allclose(
                got, _expected_features(s), rtol=1e-12, equal_nan=True
            )


def test_extract_transform_output_unchanged(spark):
    """runner/submit.py extract: battery with keep_tokens=False gives the
    columns and features of the battery-then-drop("tokens") formulation."""
    from pyspark.sql import functions as F

    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.windows import derived_features
    from mpds_spark.runner.submit import extract_transform

    df = synth_sequences(spark, 120, seed=3, n_entities=6)
    feat = extract_token_battery(df).drop("tokens")
    feat = feat.withColumn("dss", F.element_at("features", 1))
    events = feat.filter(F.crc32(F.col("doc_id")) % 10 == 0).select(
        "entity_id", "ts", F.col("dss").alias("event_val")
    )
    ref = asof_join(derived_features(feat, value="dss"), events)
    got = extract_transform(df)
    assert got.columns == ref.columns and "tokens" not in got.columns
    g = got.orderBy("doc_id").toPandas()
    r = ref.orderBy("doc_id").toPandas()
    assert len(g) == 120
    for c in g.columns:
        if c == "features":
            np.testing.assert_array_equal(np.stack(g[c]), np.stack(r[c]))
        else:
            pd.testing.assert_series_equal(g[c], r[c])


def _plan_nodes(node, above=()):
    """(node, its ancestors) for every node of a physical plan, through
    AQE's query stages."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan(), above)
        return
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan(), above)
        return
    yield node, above
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i), above + (node,))


def test_extract_transform_plan_pushes_event_filter_under_battery(spark, tmp_path):
    """The flagship plan (runner/submit.py extract_transform over parquet):
    exactly 2 Python nodes, both ArrowEvalPython, each returning only the
    feature vector (tokens never come back from Python), and the 10%
    event Filter below one of them, so that pass sees only event rows."""
    from mpds_spark.runner.submit import extract_transform

    path = str(tmp_path / "seq")
    synth_sequences(spark, 120, seed=3, n_entities=6).write.parquet(path)
    got = extract_transform(spark.read.parquet(path))
    got.collect()
    nodes = list(_plan_nodes(got._jdf.queryExecution().executedPlan()))
    python = [
        n for n, _ in nodes
        if "Python" in n.nodeName() or n.nodeName().endswith(("InArrow", "InPandas"))
    ]
    assert [n.nodeName() for n in python] == ["ArrowEvalPython"] * 2
    for n in python:
        attrs = n.resultAttrs()
        assert [attrs.apply(i).dataType().simpleString() for i in range(attrs.size())] == [
            "array<double>"
        ]
    filters = [
        above for n, above in nodes
        if n.nodeName() == "Filter" and "crc32" in n.condition().toString()
    ]
    assert len(filters) == 1
    assert sum(a.nodeName() == "ArrowEvalPython" for a in filters[0]) == 1


def test_accel_battery_spark_matches_numpy(spark):
    rng = np.random.default_rng(21)
    frames = []
    for e in range(3):
        for ts in (100.0, 200.0):
            n = 400
            t = np.cumsum(rng.uniform(0.004, 0.008, n))
            frames.append(
                pd.DataFrame(
                    {
                        "entity_id": f"e{e}",
                        "ts": ts,
                        "t": t,
                        "x": np.sin(2 * np.pi * 2 * t) + 0.05 * rng.normal(size=n),
                        "y": 0.3 * rng.normal(size=n),
                        "z": 9.8 + 0.05 * rng.normal(size=n),
                    }
                )
            )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    out = extract_accel_battery(df).orderBy("entity_id", "ts").toPandas()
    assert len(out) == 6
    for _, row in out.iterrows():
        g = pdf[(pdf.entity_id == row.entity_id) & (pdf.ts == row.ts)]
        expected = extract_accel_features(
            g["t"].to_numpy(), g["x"].to_numpy(), g["y"].to_numpy(), g["z"].to_numpy()
        )
        np.testing.assert_allclose(
            np.asarray(row["features"], dtype=float),
            expected,
            rtol=1e-12,
            equal_nan=True,
        )


def test_slice_and_score(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "features": [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]})
    )
    sliced = slice_modality(df, "features", 1, 2, "mod").orderBy("k").toPandas()
    assert [list(v) for v in sliced["mod"]] == [[2.0, 3.0], [5.0, 6.0]]
    scored = score_dot(df, "features", [1.0, 0.5, -1.0]).orderBy("k").toPandas()
    assert scored["score"].tolist() == [
        pytest.approx(1 + 1 - 3),
        pytest.approx(4 + 2.5 - 6),
    ]
