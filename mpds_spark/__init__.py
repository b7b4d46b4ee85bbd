"""mpds_spark — a PySpark-native point-in-time / as-of join + windowed
feature-engineering engine (backfill, lag/lead, sessionize).

Built from scratch on the pyspark.sql DataFrame API + Arrow-vectorized
pandas UDFs. Semantics re-create the reference pipeline
(lionwarriorjr/mpds: dssl/*.R, feature_extraction/*.m) — see SURVEY.md —
but the architecture is Spark-first: one range exchange per entity-keyed
pipeline leg, sorts/windows/UDFs pipelined within partitions, AQE + salting
for skew, checkpoint/lineage for resumability.

Public API (DataFrame in / DataFrame out):
    asof_join, time_since_event,
    locf, interpolate,
    derived_features, lag_lead_diff,
    sessionize, remove_short_on_intervals, unite_adjacent_on_intervals,
    event_response, interval_join,
    smoothness_pairs, interleave_split, pair_diff,
    extract_battery, robust_scale, rescale_scores
"""

import importlib
import os

# Inside a PySpark worker (Spark sets this variable for every Python
# worker it starts), stop the per-task re-read of the zip archives on
# sys.path. A worker imports this package whenever it unpickles an engine
# UDF, so every engine UDF gets the fix from here; see pyworker.py.
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    from mpds_spark.pyworker import lazy_zip_caches

    lazy_zip_caches()

# Public name -> defining module. Imported on first access (PEP 562), so a
# Python worker that imports one engine module (the token battery, say)
# does not pay for pyspark.sql, pandas and every operator module.
_EXPORTS = {
    "get_spark": "mpds_spark.session",
    "asof_join": "mpds_spark.operators.asof",
    "time_since_event": "mpds_spark.operators.asof",
    "locf": "mpds_spark.operators.backfill",
    "interpolate": "mpds_spark.operators.backfill",
    "derived_features": "mpds_spark.operators.windows",
    "lag_lead_diff": "mpds_spark.operators.windows",
    "sessionize": "mpds_spark.operators.sessionize",
    "remove_short_on_intervals": "mpds_spark.operators.sessionize",
    "unite_adjacent_on_intervals": "mpds_spark.operators.sessionize",
    "event_response": "mpds_spark.operators.sessionize",
    "interval_join": "mpds_spark.operators.sessionize",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value

