"""Plan-contract tests: assert the PHYSICAL plan shape that makes each
operator scale, not just its output values. These are the properties the
100-TB design leans on (VERDICT r1 praised them; this pins them against
regressions):

- temporal operators: ONE exchange, zero Python in the plan;
- an as-of join after an entity-keyed window leg shuffles only its right
  side: the left keeps the leg's partitioning through the union;
- bucketed candidate joins: never a cartesian/nested-loop product;
- range joins with an entity equi-key: sort-merge (or hash), with the
  range as a post-filter — not a nested loop.
"""

import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from conftest import CATALOG_SF, EAGER_CONSTRUCTION


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n(plan: str, token: str) -> int:
    return plan.count(token)


def _shuffles(plan: str) -> int:
    """Shuffle exchanges ONLY — a bare 'Exchange' substring also matches
    BroadcastExchange/ReusedExchange (which don't repartition the big side),
    so the one-exchange contracts count whole node names."""
    return len(re.findall(r"\bExchange (?:hash|range|Single)", plan))


# BroadcastNestedLoopJoin is allowed only where it is the design (broadcast
# 1-row fits, bounded sampled cross joins, hash-capped theta passes,
# broadcast-query exact ANN baseline).
BNLJ_BY_DESIGN = {
    "ann_cosine_topk",     # broadcast query set x corpus (exact baseline)
    "ann_recall_audit",    # same exact baseline as its reference leg
    "histogram_lift",      # broadcast 1-row (min, max) fit
    "clinical_pairs",      # inter theta pass over hash-capped rows
    "temperature_mix",     # broadcast 1-row weight-sum x |groups| rows
    "behavior_divergence",  # broadcast 1-row corpus total x |alphabet|
    "length_ks_drift",     # |groups| x |distinct lengths| grid cross
    "psi_drift",           # broadcast 1-row midpoint / bin-edge fits
    "lagged_corr",         # broadcast 1-row hour-span fit x |entities|
    "survival_km",         # broadcast 1-row corpus-max censor boundary
    "welch_pairs",         # pair theta join over the 5-row moment frame
    "decayed_counts",      # broadcast 1-row corpus-max decay boundary
    "join_size_audit",     # two broadcast 1-row totals fits per relation
    "cuped_adjust",        # broadcast 1-row corpus-span midpoint fit
    "ams_f2_sketch",       # two 1-row frames (exact leg x sketch leg)
    "pmi_pairs",           # broadcast 1-row pair-mass / token-mass fits
    "ivm_merge_audit",     # broadcast 1-row corpus-span midpoint fit
    "simpson_audit",       # broadcast 1-row pooled contingency fit
    "pagerank_iter",       # broadcast 1-row node-count fit per sweep
    "knn_eval",            # broadcast sampled query set x corpus
                           # (documented exact brute baseline)
    "quant_recall",        # two registered brute legs (exact + int8)
    "rate_shrinkage",      # broadcast 1-row pooled-rate fit
    "knn_shapley",         # broadcast held-out query set x corpus
                           # (registered brute valuation leg)
    # 1-row / bounded-frame combines registered (with exact counts)
    # in tests/test_plan_budgets.py BUDGETS — mirrored here:
    "anova_twoway",        # three 1-row SS joins on the 168-cell frame
    "degree_assortativity",  # 1-row moment x 1-row node-count combine
    "hurst_variance_plot",  # three 1-row level joins
    "kendall_tau",         # cell-pair sweep over the <=100-cell frame
    "logrank_test",        # broadcast 1-row corpus-max censor boundary
}


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(3)
    n = 400
    pdf = pd.DataFrame(
        {
            "entity_id": [f"e{i % 7}" for i in range(n)],
            "ts": np.sort(rng.uniform(0, 1e6, n)),
            "value": rng.normal(size=n),
        }
    )
    return spark.createDataFrame(pdf)


def test_asof_window_plan_one_exchange_no_python(spark, series_df):
    from mpds_spark.operators.asof import asof_join

    right = series_df.select(
        "entity_id", "ts", F.col("value").alias("rv")
    ).filter("value > 0")
    plan = _plan(asof_join(series_df, right))
    # union of both sides -> ONE shuffle on entity -> WindowExec
    assert _shuffles(plan) == 1, plan
    assert _n(plan, "ArrowEvalPython") == 0 and _n(plan, "BatchEvalPython") == 0
    assert _n(plan, "FlatMapCoGroupsInPandas") == 0
    assert _n(plan, "Window") >= 1


def test_derived_features_plan_one_exchange(spark, series_df):
    from mpds_spark.operators.windows import derived_features

    plan = _plan(derived_features(series_df, value="value"))
    assert _shuffles(plan) == 1, plan
    assert _n(plan, "ArrowEvalPython") == 0 and _n(plan, "BatchEvalPython") == 0


def test_interpolate_plan_one_exchange_no_python(spark, series_df):
    from mpds_spark.operators.backfill import interpolate

    masked = series_df.withColumn(
        "value", F.when(F.col("value") > 0, F.col("value"))
    )
    plan = _plan(interpolate(masked, value="value", leakage_ok=True))
    assert _shuffles(plan) == 1, plan
    assert _n(plan, "ArrowEvalPython") == 0 and _n(plan, "BatchEvalPython") == 0


def test_interpolate_sorts_once_and_names_aggregates_once(spark):
    """The interpolate catalog plan sorts each entity once: both window
    levels order by the one projected epoch time. Each level computes its
    4 distinct aggregates once; a window Column used twice in an
    expression would be evaluated twice in its Window node."""
    from mpds_spark.queries import q_interpolate

    plan = _plan(q_interpolate(spark, CATALOG_SF))
    windows = [
        ln for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Window [")
    ]
    assert [ln.count("windowspecdefinition") for ln in windows] == [4, 4], plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan


def test_sessionize_plan_single_entity_exchange(spark, series_df):
    from mpds_spark.operators.sessionize import sessionize

    plan = _plan(sessionize(series_df, gap=1800.0))
    # gap-flag window + session-sum window share the entity partitioning:
    # one exchange total
    assert _shuffles(plan) == 1, plan


def _narrow_chain(df):
    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.backfill import locf
    from mpds_spark.operators.sessionize import sessionize
    from mpds_spark.operators.windows import derived_features

    masked = df.withColumn("value", F.when(F.col("value") > -1, F.col("value")))
    filled = locf(masked, value="value", valid_time=5e4, default=0.0)
    feat = derived_features(filled, value="value_locf")
    events = df.filter("value > 1").select("entity_id", "ts", F.col("value").alias("ev"))
    return asof_join(sessionize(feat, gap=1800.0), events)


def _derived_then_asof(df):
    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.windows import derived_features

    events = df.filter("value > 1").select("entity_id", "ts", F.col("value").alias("ev"))
    return asof_join(derived_features(df, value="value"), events)


def _union_split(plan: str) -> tuple[str, list[str]]:
    """(the plan text above its one Union node, the text of each of the
    Union's child subtrees)."""
    lines = plan.splitlines()
    (u,) = [i for i, ln in enumerate(lines) if ln.lstrip(" :+-").startswith("Union")]
    col = lines[u].index("Union") - 3  # a child's ":- "/"+- " marker column
    branches = []
    for ln in lines[u + 1 :]:
        mark = ln[col + 3 : col + 6]
        if mark in (":- ", "+- "):
            branches.append([ln])
        elif mark in (":  ", "   ") and len(ln) > col + 6:
            branches[-1].append(ln)
        else:
            break
    return "\n".join(lines[:u]), ["\n".join(b) for b in branches]


@pytest.mark.parametrize("build", [_narrow_chain, _derived_then_asof])
def test_asof_after_window_leg_shuffles_right_side_only(spark, series_df, build):
    """The left side comes out of an entity-keyed window leg already
    hash-partitioned by entity: the as-of union keeps that partitioning,
    so no exchange sits above it, the left branch holds only the leg's
    own exchange and the right branch one exchange of its own. A second
    shuffle of the wide left side would add an exchange above the union."""
    above, branches = _union_split(_plan(build(series_df)))
    assert _shuffles(above) == 0, above
    assert len(branches) == 2
    assert [_shuffles(b) for b in branches] == [1, 1], branches


def _window_plans():
    from mpds_spark.operators.asof import time_since_event
    from mpds_spark.operators.backfill import locf
    from mpds_spark.operators.sessionize import sessionize
    from mpds_spark.operators.windows import (
        cusum_changepoint,
        derived_features,
        event_burstiness,
        lag_lead_diff,
        rolling_slope,
    )

    def tse(df):
        ev = df.withColumn("event", (F.col("value") > 1).cast("int"))
        return time_since_event(ev, include_forward=True, leakage_ok=True)

    return {
        "locf": (lambda df: locf(df, valid_time=5e4, default=0.0), 1),
        "derived_features": (lambda df: derived_features(df, value="value"), 2),
        "lag_lead_diff": (lambda df: lag_lead_diff(df, "value"), 1),
        "time_since_event": (tse, 1),
        "sessionize": (lambda df: sessionize(df, gap=1800.0), 2),
        "narrow_chain": (_narrow_chain, 5),
        "derived_then_asof": (_derived_then_asof, 3),
        "rolling_slope": (rolling_slope, 2),
        "event_burstiness": (event_burstiness, 1),
        "cusum_changepoint": (cusum_changepoint, 1),
    }


@pytest.mark.parametrize("name", list(_window_plans()))
def test_window_node_count(spark, series_df, name):
    """One Window node per dependency level of an operator: a window column
    added by its own withColumn would add a node, and one Column used in two
    withColumn calls would be computed twice."""
    build, want = _window_plans()[name]
    plan = _plan(build(series_df))
    assert _n(plan, "Window") == want, plan


def test_lsh_candidates_plan_no_cartesian(spark):
    from mpds_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{i}" for i in range(30)],
                "text": [f"w{i} w{i+1} w{i+2} w{i+3} common tail" for i in range(30)],
            }
        )
    )
    plan = _plan(lsh_candidate_pairs(docs))
    assert _n(plan, "CartesianProduct") == 0
    assert _n(plan, "BroadcastNestedLoopJoin") == 0


def test_interval_join_default_is_not_nested_loop(spark, series_df):
    from mpds_spark.operators.sessionize import interval_join

    events = series_df.filter("value > 1.5").select("entity_id", "ts")
    plan = _plan(interval_join(events, series_df, wind=3600.0))
    # entity equi-key must drive the join; the time range is a post-filter.
    # without the (opt-in) broadcast hint a large events side must never
    # become a nested-loop product
    assert _n(plan, "CartesianProduct") == 0
    assert _n(plan, "BroadcastNestedLoopJoin") == 0


def test_catalog_plan_inventory(catalog_plans):
    """Global plan contract over the catalog: no CartesianProduct anywhere;
    BroadcastNestedLoopJoin only in BNLJ_BY_DESIGN. EAGER_CONSTRUCTION
    queries are skipped — their plan shape is covered by their own
    operator tests."""
    from mpds_spark.queries import QUERIES

    assert set(catalog_plans) == set(QUERIES) - EAGER_CONSTRUCTION
    for name, plan in catalog_plans.items():
        assert "CartesianProduct" not in plan, name
        if name not in BNLJ_BY_DESIGN:
            assert "BroadcastNestedLoopJoin" not in plan, name


def _budgets() -> dict:
    """tests/test_plan_budgets.py BUDGETS, read as a literal (no import of
    a sibling test module)."""
    import ast
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    tree = ast.parse(open(os.path.join(here, "test_plan_budgets.py")).read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and node.targets[0].id == "BUDGETS":
            return ast.literal_eval(node.value)
    raise AssertionError("BUDGETS not found")


def test_bnlj_registry_synced_with_budgets():
    """Every BUDGETS entry in tests/test_plan_budgets.py that
    registers bnlj >= 1 must also appear in BNLJ_BY_DESIGN above
    (and vice versa is NOT required — budget-less queries may be
    registered here directly). Guards against a query shipping with a
    budgeted BNLJ but no registry row."""
    need = {n for n, b in _budgets().items() if b.get("bnlj", 0) > 0}
    missing = sorted(need - BNLJ_BY_DESIGN)
    assert not missing, (
        f"bnlj>0 budgets missing from BNLJ_BY_DESIGN: {missing}"
    )


def test_catalog_registries_synced():
    """One name set across the parallel registries: QUERIES, ORACLES and
    the bench reference hold exactly the same names; plan budgets, the
    BNLJ and eager-construction registries and
    __spark_entry__._PRIORITY name only catalog entries."""
    import json
    import os

    import __spark_entry__
    from mpds_spark.queries import ORACLES, QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH", "bench_reference.json")) as f:
        ref = json.load(f)["queries"]
    assert set(QUERIES) == set(ORACLES) == set(ref)
    for name, reg in (
        ("BUDGETS", set(_budgets())),
        ("BNLJ_BY_DESIGN", BNLJ_BY_DESIGN),
        ("EAGER_CONSTRUCTION", EAGER_CONSTRUCTION),
        ("_PRIORITY", set(__spark_entry__._PRIORITY)),
    ):
        assert reg <= set(QUERIES), (name, sorted(reg - set(QUERIES)))


def test_no_orphan_module_privates():
    """Every module-level `_name` and `SQL_*` constant defined under
    mpds_spark/ is loaded somewhere in the package, so retiring a catalog
    entry cannot leave its helpers or oracle SQL behind."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "mpds_spark"
    )
    defined, loaded = {}, set()
    for d, _, files in os.walk(pkg):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(d, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                    names = [node.name]
                elif isinstance(node, ast.Assign):
                    names = [t.id for t in node.targets if isinstance(t, ast.Name)]
                else:
                    continue
                for n in names:
                    if n.startswith("SQL_") or (n[0] == "_" and n[:2] != "__"):
                        defined[n] = os.path.relpath(path, pkg)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    loaded.add(node.id)
                elif isinstance(node, ast.Attribute):
                    loaded.add(node.attr)
    assert defined
    orphans = sorted(f"{p}:{n}" for n, p in defined.items() if n not in loaded)
    assert not orphans, orphans


def test_every_query_function_is_registered():
    """Every top-level `q_*` function in queries.py is a value in QUERIES,
    so unregistering a catalog entry cannot leave its query behind."""
    import ast
    import inspect

    from mpds_spark import queries

    tree = ast.parse(inspect.getsource(queries))
    names = [
        n.name for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")
    ]
    assert names
    registered = set(queries.QUERIES.values())
    unregistered = [n for n in names if getattr(queries, n) not in registered]
    assert not unregistered, unregistered
