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
- Building a session runs no job: Spark forks Python workers only when a
  plan reaches a Python node, so a JVM-only pipeline never starts one.
"""

from __future__ import annotations

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
    return spark
