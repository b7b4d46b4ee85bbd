"""Checkpoint / lineage runner: resumable partitioned runs.

North-rule requirement (BASELINE.json): "resumable from checkpoint with
per-partition lineage + metrics". Design:

- Work is split into logical partitions by a deterministic bucket of the
  entity key (`pmod(crc32(string(entity_id)), n_buckets)`), so one lineage
  row maps to one storage partition.
- Each bucket is processed independently: transform(bucket_df) → parquet
  under <out>/bucket=<k>/ + a JSON manifest row under <out>/_lineage/ with
  {bucket, status, rows_out, wall_sec, input_fingerprint,
  spec_hash, finished_at}. (rows_in is deliberately not recorded: it would
  cost a full extra scan of the bucket before the transform.)
- resume: buckets whose manifest says "done" WITH a matching
  input_fingerprint + spec_hash are skipped; everything else recomputes.
  The default input_fingerprint is one row count and crc32 sum over the
  WHOLE input, so any change to the input (or to the feature spec)
  recomputes every bucket; a per-bucket fingerprint is ROADMAP item 9.

Scale note: bucket-at-a-time submission keeps the blast radius of a failure
to one bucket and makes progress observable; within a bucket, the plan is
the engine's usual one-exchange window/UDF leg. On a cluster the buckets
are submitted as independent jobs that parallelize internally; local-mode
tests use a handful of buckets.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spec_hash(spec: str) -> str:
    return hashlib.sha256(spec.encode()).hexdigest()[:16]


def _manifest_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, "_lineage", f"bucket_{bucket:05d}.json")


def _commit_manifest(out_dir: str, bucket: int, manifest: dict) -> None:
    """Write to a temp file, then rename over the old manifest: a reader
    sees the previous manifest or the new one, never a torn write."""
    path = _manifest_path(out_dir, bucket)
    with open(path + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(path + ".tmp", path)


def read_lineage(out_dir: str) -> list[dict]:
    d = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(d):
        return []
    rows = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                rows.append(json.load(fh))
    return rows


def run_partitioned(
    spark: SparkSession,
    df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    entity: str = "entity_id",
    n_buckets: int = 8,
    spec: str = "",
    input_fingerprint: str | None = None,
) -> dict:
    """Process df bucket-by-bucket with lineage manifests; skip buckets whose
    manifest is already done for the same (input_fingerprint, spec).

    Returns {"processed": [...], "skipped": [...], "failed": [...]}.
    """
    os.makedirs(os.path.join(out_dir, "_lineage"), exist_ok=True)
    sh = _spec_hash(spec)
    if input_fingerprint is None:
        # cheap deterministic fingerprint: row count + sum of key hashes
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col(entity).cast("string"))).alias("h"),
        ).collect()[0]
        input_fingerprint = f"{agg['n']}_{agg['h']}"

    bucket_col = F.pmod(F.crc32(F.col(entity).cast("string")), F.lit(n_buckets))
    tagged = df.withColumn("__bucket", bucket_col)

    done, todo = [], []
    for b in range(n_buckets):
        m = _manifest_path(out_dir, b)
        if os.path.exists(m):
            with open(m) as fh:
                row = json.load(fh)
            if (
                row.get("status") == "done"
                and row.get("input_fingerprint") == input_fingerprint
                and row.get("spec_hash") == sh
            ):
                done.append(b)
                continue
        todo.append(b)

    processed, failed = [], []
    for b in todo:
        t0 = time.perf_counter()
        part = tagged.filter(F.col("__bucket") == b).drop("__bucket")
        try:
            out = transform(part)
            path = os.path.join(out_dir, f"bucket={b}")
            out.write.mode("overwrite").parquet(path)
            rows_out = spark.read.parquet(path).count()
            manifest = {
                "bucket": b,
                "status": "done",
                "rows_out": rows_out,
                "wall_sec": round(time.perf_counter() - t0, 3),
                "input_fingerprint": input_fingerprint,
                "spec_hash": sh,
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            _commit_manifest(out_dir, b, manifest)
            processed.append(b)
        except Exception as e:  # noqa: BLE001
            manifest = {
                "bucket": b,
                "status": "failed",
                "error": str(e)[:500],
                "input_fingerprint": input_fingerprint,
                "spec_hash": sh,
            }
            _commit_manifest(out_dir, b, manifest)
            failed.append(b)
    return {"processed": processed, "skipped": done, "failed": failed}


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back only the buckets whose manifest is marked done. A bucket
    whose last run failed, or that has no manifest, is left out even when
    an older run's parquet is still on disk. basePath keeps the `bucket`
    partition column."""
    paths = [
        os.path.join(out_dir, f"bucket={m['bucket']}")
        for m in read_lineage(out_dir)
        if m.get("status") == "done"
    ]
    return spark.read.option("basePath", out_dir).parquet(*paths)
