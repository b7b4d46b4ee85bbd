"""Cluster entry point (north-rule: `spark-submit --py-files`).

Usage (cluster):
    zip -r mpds_spark.zip mpds_spark
    spark-submit --py-files mpds_spark.zip -m ...  # or:
    spark-submit --py-files mpds_spark.zip mpds_spark/runner/submit.py \
        extract --input <iceberg-table-or-parquet> --output <dir> \
        --entity-buckets 256 --resume

Subcommands:
    synth    — write the deterministic tokenized-sequence table
    extract  — battery + expanding features + as-of enrichment, bucket-
               partitioned with lineage manifests (resumable)
    bench    — engine throughput at the current master's parallelism
    dedup    — end-to-end corpus dedup (exact -> LSH near-dup pairs ->
               star CC -> keep list), stage-resumable under --output

Local smoke: python -m mpds_spark.runner.submit synth --docs 10000 --output /tmp/x
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from mpds_spark.session import get_spark

    return get_spark(
        app_name=f"mpds_{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_synth(args) -> int:
    from mpds_spark.sources.io import write_sequences
    from mpds_spark.sources.synth import synth_sequences

    spark = _spark(args)
    df = synth_sequences(spark, args.docs, seed=args.seed)
    fmt = write_sequences(df, args.output, n_buckets=args.entity_buckets)
    print(json.dumps({"written": args.docs, "format": fmt, "to": args.output}))
    spark.stop()
    return 0


def extract_transform(part):
    """The extract leg for one bucket: battery (token payload not shipped
    back from Python) -> expanding features -> backward as-of against the
    10% event subset."""
    from pyspark.sql import functions as F

    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.battery import extract_token_battery
    from mpds_spark.operators.windows import derived_features

    feat = extract_token_battery(part, keep_tokens=False)
    feat = feat.withColumn("dss", F.element_at("features", 1))
    events = feat.filter(F.crc32(F.col("doc_id")) % 10 == 0).select(
        "entity_id", "ts", F.col("dss").alias("event_val")
    )
    return asof_join(derived_features(feat, value="dss"), events)


def cmd_extract(args) -> int:
    from mpds_spark.runner.checkpoint import run_partitioned
    from mpds_spark.sources.io import read_sequences

    spark = _spark(args)
    df = read_sequences(spark, args.input)
    if "bucket" in df.columns:
        df = df.drop("bucket")

    res = run_partitioned(
        spark,
        df,
        extract_transform,
        args.output,
        n_buckets=args.entity_buckets,
        spec=args.spec,
    )
    print(json.dumps(res))
    spark.stop()
    return 1 if res["failed"] else 0


def cmd_bench(args) -> int:
    import bench as bench_mod  # repo-root bench.py

    t0 = time.time()
    cpus = (
        int(args.master.split("[")[-1].rstrip("]"))
        if args.master and "[" in args.master
        else 8
    )
    out = bench_mod.engine_throughput(args.docs, cpus, seed=args.seed)
    out["wall_total"] = round(time.time() - t0, 1)
    print(json.dumps(out))
    return 0


def cmd_dedup(args) -> int:
    from mpds_spark.pipelines.dedup_corpus import dedup_corpus
    from mpds_spark.sources.io import read_table

    spark = _spark(args)
    if args.input.endswith(".parquet") or "/" in args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = read_table(spark, args.sf_dir, args.input)
    res = dedup_corpus(
        spark,
        docs,
        args.output,
        text=args.text_col,
        key=args.key_col,
        n_buckets=args.entity_buckets,
        threshold=args.threshold,
        max_df=args.max_df,
        pair_method=args.pair_method,
        max_hamming=args.max_hamming,
        winnow_w=args.winnow_w,
        min_shared=args.min_shared,
    )
    keep = res["keep"]
    n_docs = keep.count()
    n_keep = keep.filter("keep").count()
    print(
        json.dumps(
            {
                "stages": res["stages"],
                "docs": n_docs,
                "kept": n_keep,
                "removed": n_docs - n_keep,
                "out": args.output,
            }
        )
    )
    spark.stop()
    return 0


def _default_pii() -> dict:
    from mpds_spark.operators.text import PII_PATTERNS

    return dict(PII_PATTERNS)


def _parse_splits(spec: str | None) -> dict | None:
    """'train=0.98,val=0.01,test=0.01' -> {"train": 0.98, ...}."""
    if not spec:
        return None
    out = {}
    for part in spec.split(","):
        name, frac = part.split("=")
        out[name.strip()] = float(frac)
    return out


def cmd_prepare(args) -> int:
    """Full corpus preparation (quality -> dedup -> decontaminate ->
    token budget) — the cluster entry for pipelines/prepare_corpus."""
    from mpds_spark.pipelines.prepare_corpus import prepare_corpus
    from mpds_spark.sources.io import read_table

    spark = _spark(args)

    def _load(name):
        if name.endswith(".parquet") or "/" in name:
            return spark.read.parquet(name)
        return read_table(spark, args.sf_dir, name)

    res = prepare_corpus(
        spark,
        _load(args.input),
        _load(args.eval_input),
        args.output,
        text=args.text_col,
        key=args.key_col,
        budget=args.budget,
        group=args.group_col,
        pack_length=args.pack_length,
        shard_rows=args.shard_rows,
        min_words=args.min_words,
        decontam_n=args.decontam_n,
        min_hits=args.min_hits,
        dedup_threshold=args.threshold,
        temperature_alpha=args.temperature_alpha,
        split_fractions=_parse_splits(args.splits),
        redact_patterns=(_default_pii() if args.redact else None),
        boilerplate_seg_words=args.boilerplate_seg_words,
        boilerplate_min_docs=args.boilerplate_min_docs,
    )
    print(
        json.dumps(
            {
                "stages": res["stages"],
                "funnel": res["funnel"],
                "out": args.output,
            }
        )
    )
    spark.stop()
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mpds_spark")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth")
    s.add_argument("--docs", type=int, default=100_000)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--output", required=True)
    s.add_argument("--entity-buckets", type=int, default=16)

    e = sub.add_parser("extract")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--entity-buckets", type=int, default=16)
    e.add_argument("--spec", default="battery-v1")
    e.add_argument("--resume", action="store_true", help="(default behavior)")

    b = sub.add_parser("bench")
    b.add_argument("--docs", type=int, default=100_000)
    b.add_argument("--seed", type=int, default=42)

    d = sub.add_parser("dedup")
    d.add_argument("--input", required=True, help="parquet path or table name")
    d.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    d.add_argument("--output", required=True)
    d.add_argument("--text-col", default="text")
    d.add_argument("--key-col", default="doc_id")
    d.add_argument("--entity-buckets", type=int, default=8)
    d.add_argument("--threshold", type=float, default=0.5)
    d.add_argument("--max-df", type=int, default=None)
    d.add_argument(
        "--pair-method",
        choices=["minhash", "simhash", "winnow"],
        default="minhash",
        help="near-dup candidate backend for stage 2",
    )
    d.add_argument("--max-hamming", type=int, default=3)
    d.add_argument(
        "--winnow-w",
        type=int,
        default=4,
        help="winnowing window (pair-method=winnow)",
    )
    d.add_argument(
        "--min-shared",
        type=int,
        default=2,
        help="shared-fingerprint count for a winnow pair",
    )

    pr = sub.add_parser("prepare")
    pr.add_argument("--input", required=True, help="parquet path or table name")
    pr.add_argument("--eval-input", required=True, help="benchmark/eval set")
    pr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pr.add_argument("--output", required=True)
    pr.add_argument("--text-col", default="text")
    pr.add_argument("--key-col", default="doc_id")
    pr.add_argument("--group-col", default="source")
    pr.add_argument("--budget", type=int, default=10**9)
    pr.add_argument("--min-words", type=int, default=8)
    pr.add_argument("--decontam-n", type=int, default=3)
    pr.add_argument(
        "--min-hits",
        type=int,
        default=1,
        help="shared-shingle count at which a doc counts as contaminated",
    )
    pr.add_argument("--threshold", type=float, default=0.5)
    pr.add_argument("--pack-length", type=int, default=None)
    pr.add_argument("--shard-rows", type=int, default=None)
    pr.add_argument(
        "--temperature-alpha",
        type=float,
        default=None,
        help="rebalance mixture by group-size^alpha (budget = total tokens)",
    )
    pr.add_argument(
        "--splits",
        default=None,
        help="e.g. train=0.98,val=0.01,test=0.01 — deterministic hash split",
    )
    pr.add_argument(
        "--boilerplate-seg-words",
        type=int,
        default=None,
        help="strip segments of this word width repeated across docs of a "
        "source (CCNet/RefinedWeb line dedup) before quality/dedup",
    )
    pr.add_argument(
        "--boilerplate-min-docs",
        type=int,
        default=2,
        help="distinct-doc count at which a segment counts as boilerplate",
    )
    pr.add_argument(
        "--redact",
        action="store_true",
        help="PII-scrub the text column (email/phone/IPv4) before curation",
    )

    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return {
        "synth": cmd_synth,
        "extract": cmd_extract,
        "bench": cmd_bench,
        "dedup": cmd_dedup,
        "prepare": cmd_prepare,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
