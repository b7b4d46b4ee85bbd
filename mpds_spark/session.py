"""SparkSession factory tuned for the engine's physical plan shape.

Key choices (scale rationale):
- AQE on: runtime partition coalescing + skew-join splitting at 10^12-row
  scale replaces hand-tuned static shuffle counts.
- Arrow on + bounded batch size: every custom kernel is an Arrow-vectorized
  pandas UDF; maxRecordsPerBatch bounds the Python-worker working set so a
  giant entity group does not OOM the worker.
- UTC session timezone: the DuckDB oracle compares naive-UTC timestamps.
- shuffle.partitions defaults to the core count in local mode; on a real
  cluster leave the default and let AQE coalesce.
- Python workers are primed at session start (MPDS_PRIME_PYTHON_WORKERS=0
  turns it off): one worker per core pays the numpy/pandas/pyarrow
  imports once and gets `pyworker.lazy_zip_caches`, which stops the
  per-task re-read of every zip archive on sys.path (~0.27 CPU-s per
  task on Python < 3.13). A priming failure is logged, never raised.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mpds_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; on a cluster pass explicitly.
        inside = master.split("[")[-1].rstrip("]") if "[" in master else "8"
        if inside == "*":
            shuffle_partitions = os.cpu_count() or 8
        else:
            try:
                shuffle_partitions = int(inside)
            except ValueError:
                shuffle_partitions = 8

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("MPDS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no \r progress spam on stdout/stderr: bench's one-line JSON
        # record must be machine-parseable from a captured tail
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("MPDS_PRIME_PYTHON_WORKERS", "1") == "1":
        _prime_python_workers(spark)
    return spark


def _prime_python_workers(spark: SparkSession) -> set[int]:
    """Fork one Python worker per core, pay the pandas/pyarrow/numpy
    import once and install `lazy_zip_caches`, at session creation — the
    same reason the JVM and parquet footers are warmed before any
    measurement: with spark.python.worker.reuse (default) the pool
    persists, so the first Arrow-kernel stage of the session does not
    absorb a multi-second fork+import storm into whatever query happens
    to run it, and no later task of a primed worker re-reads the zip
    archives on its sys.path. No data is read and nothing is cached.
    Returns the pids of the workers it ran in (empty if it failed).
    Disable with MPDS_PRIME_PYTHON_WORKERS=0."""
    try:
        n = spark.sparkContext.defaultParallelism

        def _prime(batches):
            import os

            import numpy  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow

            from mpds_spark.pyworker import lazy_zip_caches

            lazy_zip_caches()
            for _ in batches:
                yield pyarrow.RecordBatch.from_pydict({"pid": [os.getpid()]})

        rows = spark.range(n, numPartitions=n).mapInArrow(_prime, "pid long").collect()
        return {r.pid for r in rows}
    except Exception:
        # priming must never break session creation, but without it every
        # task pays the zip re-reads again: say so
        logging.getLogger(__name__).warning(
            "Python worker priming failed", exc_info=True
        )
        return set()
