import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpds_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mpds_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


CATALOG_SF = "/root/testdata/sf0.001"
# Catalog entries whose CONSTRUCTION runs eager work (iterative CC:
# per-round checkpoint actions) are left out of the shared plan map.
EAGER_CONSTRUCTION = {"near_dup_components", "kcenter_coreset"}


@pytest.fixture(scope="session")
def catalog_plans(spark):
    """name -> executedPlan() text of every catalog entry outside
    EAGER_CONSTRUCTION at CATALOG_SF, planned once per session for the
    plan inventory and the plan budgets. Scratch frames an entry persists
    are released after it is planned."""
    from mpds_spark.operators.util import release_scratch
    from mpds_spark.queries import QUERIES

    out = {}
    for name, fn in QUERIES.items():
        if name in EAGER_CONSTRUCTION:
            continue
        df = fn(spark, CATALOG_SF)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
        release_scratch()
    return out


def make_entity_series(
    n_entities=6, rows_per=40, seed=7, null_frac=0.25, event_frac=0.12
):
    """Random (entity_id, ts, value, event, signal, stage) long table (F7)."""
    rng = np.random.default_rng(seed)
    frames = []
    for e in range(n_entities):
        n = rows_per + int(rng.integers(0, 10))
        ts = np.cumsum(rng.uniform(0.5, 30.0, size=n)) + rng.uniform(0, 5)
        value = rng.normal(0, 10, size=n).round(3)
        value[rng.uniform(size=n) < null_frac] = np.nan
        event = (rng.uniform(size=n) < event_frac).astype("int64")
        signal = (rng.uniform(size=n) < 0.5).astype("float64")
        signal[rng.uniform(size=n) < 0.1] = np.nan
        stage = rng.integers(0, 4, size=n)
        frames.append(
            pd.DataFrame(
                {
                    "entity_id": f"ent_{e:03d}",
                    "ts": ts,
                    "value": value,
                    "event": event,
                    "signal": signal,
                    "stage": stage,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)
