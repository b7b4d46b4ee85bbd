"""The two workloads.

Each runs closed-loop from one driver process: one action at a time, every
action fully materialized into Spark's noop sink (or the runner's parquet
output), never `count()`, which lets Catalyst prune the Window nodes.

A run is: set-up (session start, input generation, warm-up actions),
the timed local[nproc] leg, then verification outside the timed region;
engine_tokens adds a timed local[1] leg over the first 1/nproc of the input
files (weak scaling). With tracing on, the timed legs are replaced by the
layer measurements, and engine_tokens also runs the production extract path
once: bucketed run, two lost buckets, resume, read-back.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import zlib
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, verify
from perfbench.rss import PeakRss
from perfbench.tracing import SqlMetrics, Tracer, ladder_self_times, summarize

N_FILES = 16

# Sizes fit the run budget: every run starts a session (~12 s on 4 vCPU) and
# the whole set of runs has to finish in under an hour, so one timed action
# takes a few seconds, not the 20-45 s of the full-size legs.
ENGINE = dict(n_docs=4_000, n_entities=200, hot_frac=0.02)
NARROW = dict(n_rows=300_000, n_entities=10_000, hot_frac=0.02,
              null_frac=0.2, event_frac=0.1)
# one narrow row per clock second: an ordinary entity sees a row about every
# n_entities seconds, which sets the scale of the temporal thresholds
_G = float(NARROW["n_entities"])
NARROW_GAP, NARROW_VALID, NARROW_TOL = _G, 2 * _G, 5 * _G
N_BUCKETS = 8
# untimed actions before the timed leg: the first runs about three times as
# long as the rest, and the JVM compiles for a few more after it
ENGINE_WARMUP = 2
NARROW_WARMUP = 5


@dataclass
class Run:
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    end_to_end: dict = field(default_factory=dict)
    # figures of one workload only: printed, but not in the JSON record,
    # whose metrics every workload must report
    extra: dict = field(default_factory=dict)
    spark: object = None

    # ------------------------------------------------------------ session
    def start(self, cores: int) -> None:
        from mpds_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # the machine is shared: keep the heap small, and fixed, so
                # that the tree's RSS does not step with G1's heap resizing
                "spark.driver.memory": "1g",
                # the narrow chain generates about 95 classes, at the edge of
                # Spark's default cache of 100: then, depending on the order
                # of earlier compiles, every action recompiles 0 or 25-50 of
                # them, and a run's rows/s lands at one of two speeds
                "spark.sql.codegen.cache.maxEntries": "1000",
                "spark.driver.extraJavaOptions": "-Xms1g -Djava.io.tmpdir="
                + os.path.join(self.work, "tmp"),
            },
        )

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ------------------------------------------------------------ actions
    def attempt(self, name: str, fn):
        """One counted action; a raise counts as failed and returns None."""
        self.attempted += 1
        try:
            with self.tracer.span(name):
                return fn()
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)

    def timed(self, name: str, fn, budget_s: float) -> list[float]:
        """Closed loop: run fn again until budget_s has passed; seconds of
        each successful run."""
        times, end = [], time.perf_counter() + budget_s
        while time.perf_counter() < end:
            t0 = time.perf_counter()
            if self.attempt(name, fn) is not None:
                times.append(time.perf_counter() - t0)
        return times


def noop(df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


def _median(xs: list[float]) -> float:
    if not xs:
        raise RuntimeError("no timed action succeeded")
    return statistics.median(xs)


# ---------------------------------------------------------------- pipelines
def engine_leg(frame, keep_tokens: bool = False):
    """The flagship leg: battery -> expanding features -> backward as-of
    against the 10% event subset. Returns the cumulative ladder rungs."""
    from pyspark.sql import functions as F

    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.battery import extract_token_battery
    from mpds_spark.operators.windows import derived_features

    feat = extract_token_battery(frame, keep_tokens=keep_tokens)
    if keep_tokens:
        feat = feat.drop("tokens")
    feat = feat.withColumn("dss", F.element_at("features", 1))
    events = feat.filter(F.crc32(F.col("doc_id")) % 10 == 0).select(
        "entity_id", "ts", F.col("dss").alias("event_val")
    )
    der = derived_features(feat, value="dss")
    full = asof_join(der, events, on="ts", by="entity_id")
    return [("sources", frame), ("battery", feat), ("windows", der), ("asof", full)]


def extract_transform(part):
    """The production extract transform: tokens ride through the battery and
    are dropped after it."""
    return engine_leg(part, keep_tokens=True)[-1][1]


def narrow_events(frame):
    from pyspark.sql import functions as F

    return frame.filter(F.col("is_event")).select(
        "entity_id", "ts", F.col("value").alias("event_val")
    )


def narrow_ops(frame) -> dict:
    """Each temporal operator applied alone to the scanned table."""
    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.backfill import locf
    from mpds_spark.operators.sessionize import sessionize
    from mpds_spark.operators.windows import derived_features

    return {
        "sources": frame,
        "backfill": locf(frame, value="value", valid_time=NARROW_VALID, default=0.0),
        "windows": derived_features(frame, value="value"),
        "sessionize": sessionize(frame, gap=NARROW_GAP),
        "asof": asof_join(frame, narrow_events(frame), tolerance=NARROW_TOL),
    }


def narrow_chain(frame, tolerance: float | None = NARROW_TOL):
    """locf -> derived features (over the filled series) -> sessionize ->
    as-of with tolerance, as one plan."""
    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.backfill import locf
    from mpds_spark.operators.sessionize import sessionize
    from mpds_spark.operators.windows import derived_features

    filled = locf(frame, value="value", valid_time=NARROW_VALID, default=0.0)
    feat = derived_features(filled, value="value_locf")
    sess = sessionize(feat, gap=NARROW_GAP)
    return asof_join(sess, narrow_events(frame), tolerance=tolerance)


# ------------------------------------------------------------------- set-up
def _setup(run: Run, write_inputs, warm) -> tuple[str, list[str]]:
    """Start the session, generate the inputs and warm up; setup_s is the
    sum. The warm-up runs the full timed action.
    Returns (input dir, first-1/nproc file list)."""
    t0 = time.perf_counter()
    with run.tracer.span("setup.session"):
        run.start(run.cores)
    d = os.path.join(run.work, "input")
    with run.tracer.span("setup.generate"):
        run.inputs = write_inputs(d)
    with run.tracer.span("setup.warmup"):
        warm(run.spark.read.parquet(d))
    run.end_to_end["setup_s"] = time.perf_counter() - t0
    files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    return d, files[: max(1, len(files) // run.cores)]


def _scaling_leg(run: Run, quarter: list[str], n_rows: int, action, r_hi: float) -> None:
    """Weak scaling: restart on local[1] over the first 1/nproc of the files."""
    run.stop()
    run.start(1)
    frame = run.spark.read.parquet(*quarter)
    action(frame)  # warm-up, untimed
    times = run.timed("local1", lambda: action(frame), run.seconds * 0.3)
    r_lo = n_rows / _median(times)
    run.extra["scaling_eff"] = {"value": r_hi / (run.cores * r_lo), "unit": "ratio"}


def _quarter_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _traced(run: Run, sql: SqlMetrics, name: str, fn):
    """One traced action: the seconds of the action, its executions' SQL
    metrics, and the seconds of the whole traced step (metric reads
    included); None seconds if it failed."""
    t0 = time.perf_counter()
    sql.mark()
    t1 = time.perf_counter()
    ok = run.attempt(name, fn)
    t2 = time.perf_counter()
    execs = sql.since_mark()
    if ok is None:
        return None, execs, None
    return t2 - t1, execs, time.perf_counter() - t0


def _apply_plan_summary(run: Run, s: dict) -> None:
    run.layers.update({
        "battery.udf_nodes": s["udf_nodes"],
        "battery.python_s": s["python_s"],
        "battery.python_bytes_sent": s["python_bytes_sent"],
        "battery.python_bytes_received": s["python_bytes_received"],
        "windows.window_nodes": s["window_nodes"],
        "exchange.count": s["exchange_nodes"],
        "exchange.shuffle_bytes": s["shuffle_bytes"],
        "spill_bytes": s["spill_bytes"],
    })


def _layer_rounds(run: Run, rungs: dict, budget_s: float, top: str) -> dict:
    """Rounds of one noop action per rung until budget_s has passed; the
    median seconds per rung, and the SQL metrics of the `top` rung. Each
    round also runs `top` once untraced (no span, no metric reads): the
    trace overhead is the traced minus the untraced median wall."""
    sql = SqlMetrics(run.spark)
    times = {k: [] for k in rungs}
    traced_top, untraced_top, execs = [], [], []
    end = time.perf_counter() + budget_s
    while not times[top] or time.perf_counter() < end:
        for name, df in rungs.items():
            dt, ex, wall = _traced(run, sql, f"layer.{name}", lambda df=df: noop(df))
            if dt is not None:
                times[name].append(dt)
            if name == top:
                execs = ex
                if wall is not None:
                    traced_top.append(wall)
        if not times[top]:
            raise RuntimeError(f"traced {top} action failed")
        t0 = time.perf_counter()
        noop(rungs[top])
        untraced_top.append(time.perf_counter() - t0)
    _apply_plan_summary(run, summarize(execs))
    run.layers["trace.overhead_s"] = _median(traced_top) - _median(untraced_top)
    return {k: _median(v) for k, v in times.items()}


# ---------------------------------------------------------------- workloads
def engine_tokens(run: Run) -> None:
    p = ENGINE
    d, quarter = _setup(
        run,
        lambda out: gen.write_sequences(out, p["n_docs"], run.seed, p["n_entities"],
                                        p["hot_frac"], N_FILES),
        lambda frame: all(noop(engine_leg(frame)[-1][1]) for _ in range(ENGINE_WARMUP)),
    )
    frame = run.spark.read.parquet(d)
    leg = engine_leg(frame)
    if run.trace:
        med = _layer_rounds(run, dict(leg), run.seconds / 2, "asof")
        cumulative = [(k, med[k]) for k, _ in leg]
        run.layers.update(
            {f"{k}.self_s": v for k, v in ladder_self_times(cumulative).items()}
        )
        _verify_engine(run, frame, p)
        _extract_traced(run, frame)
        return
    with PeakRss() as rss:
        times = run.timed("engine", lambda: noop(leg[-1][1]), run.seconds * 0.7)
    run.end_to_end["peak_rss_mb"] = rss.peak_bytes / 2**20
    run.end_to_end["rows_per_s"] = p["n_docs"] / _median(times)
    _verify_engine(run, frame, p)
    _scaling_leg(
        run, quarter, _quarter_rows(quarter),
        lambda f: noop(engine_leg(f)[-1][1]), run.end_to_end["rows_per_s"],
    )


def _verify_engine(run: Run, frame, p: dict, got=None) -> None:
    from pyspark.sql import functions as F

    from mpds_spark.functions.battery import token_features

    ents = verify.sample_entities(run.seed, p["n_entities"])
    if got is None:
        got = run.attempt(
            "verify.collect",
            lambda: engine_leg(frame.filter(F.col("entity_id").isin(ents)))[-1][1]
            .toPandas(),
        )
    if got is None:
        return
    want = verify.engine_reference(
        p["n_docs"], run.seed, p["n_entities"], p["hot_frac"], ents, token_features
    )
    run.check("verify.engine", verify.check_engine(got, want))


def temporal_narrow(run: Run) -> None:
    p = NARROW
    d, _ = _setup(
        run,
        lambda out: gen.write_narrow(out, p["n_rows"], run.seed, p["n_entities"],
                                     p["hot_frac"], p["null_frac"], p["event_frac"],
                                     N_FILES),
        lambda frame: all(noop(narrow_chain(frame)) for _ in range(NARROW_WARMUP)),
    )
    frame = run.spark.read.parquet(d)
    if run.trace:
        rungs = {**narrow_ops(frame), "chain": narrow_chain(frame)}
        med = _layer_rounds(run, rungs, run.seconds, "chain")
        for k in ("backfill", "windows", "sessionize", "asof"):
            run.layers[f"{k}.self_s"] = med[k] - med["sources"]
        run.layers["sources.self_s"] = med["sources"]
        _narrow_counts(run, frame)
    else:
        chain = narrow_chain(frame)
        with PeakRss() as rss:
            times = run.timed("narrow", lambda: noop(chain), run.seconds)
        run.end_to_end["peak_rss_mb"] = rss.peak_bytes / 2**20
        run.end_to_end["rows_per_s"] = p["n_rows"] / _median(times)
    _verify_narrow(run, frame)


def _narrow_counts(run: Run, frame) -> None:
    """Exact operator counts over the whole chain output; outside_tolerance
    compares against the same as-of without a tolerance."""
    from pyspark.sql import functions as F

    out = narrow_chain(frame)
    seen = F.col("value_time_since_sample").isNotNull()
    row = run.attempt("counts.chain", lambda: out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("ts_r").alias("matched"),
        F.sum((F.col("value").isNull() & seen).cast("long")).alias("filled"),
        F.sum((F.col("value_locf_expir").isNull() & seen).cast("long")).alias("expired"),
        F.countDistinct("entity_id", "session_id").alias("sessions"),
    ).collect()[0])
    any_match = run.attempt(
        "counts.untoleranced",
        lambda: narrow_chain(frame, tolerance=None).agg(F.count("ts_r")).collect()[0][0],
    )
    if row is None or any_match is None:
        return
    run.layers.update({
        "asof.matched": row["matched"],
        "asof.matched_frac": row["matched"] / row["n"],
        "asof.outside_tolerance": any_match - row["matched"],
        "backfill.filled": row["filled"],
        "backfill.expired": row["expired"],
        "sessionize.sessions": row["sessions"],
    })


def _verify_narrow(run: Run, frame) -> None:
    from pyspark.sql import functions as F

    p = NARROW
    ents = verify.sample_entities(run.seed, p["n_entities"])
    got = run.attempt(
        "verify.collect",
        lambda: narrow_chain(frame.filter(F.col("entity_id").isin(ents))).toPandas(),
    )
    if got is None:
        return
    want = verify.narrow_reference(
        p["n_rows"], run.seed, p["n_entities"], p["hot_frac"], p["null_frac"],
        p["event_frac"], ents, NARROW_VALID, NARROW_GAP, NARROW_TOL,
    )
    run.check("verify.narrow", verify.check_narrow(got, want))


def _crash_buckets(n_buckets: int) -> list[int]:
    """The hot entity's bucket (the runner's pmod(crc32(entity), n)) and the
    next one."""
    hot = zlib.crc32(gen.HOT_ENTITY.encode()) % n_buckets
    return sorted({hot, (hot + 1) % n_buckets})


def _dir_bytes_files(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(dirpath, f))
            nfiles += f.endswith(".parquet")
    return nbytes, nfiles


def extract_cycle(run: Run, frame, out_dir: str, sql: SqlMetrics) -> dict:
    """Fresh bucketed extract, lose the hot bucket's and one more manifest
    (their data stays behind), resume, read everything back."""
    from mpds_spark.runner.checkpoint import read_lineage, read_output, run_partitioned

    crash = _crash_buckets(N_BUCKETS)
    kw = dict(n_buckets=N_BUCKETS, spec="perfbench-extract")
    t0 = time.perf_counter()
    with run.tracer.span("checkpoint.run"):
        fresh = run_partitioned(run.spark, frame, extract_transform, out_dir, **kw)
    t1 = time.perf_counter()
    execs = sql.since_mark()
    manifests = read_lineage(out_dir)
    lineage = os.path.join(out_dir, "_lineage")
    for f in os.listdir(lineage):
        with open(os.path.join(lineage, f)) as fh:
            if json.load(fh).get("bucket") in crash:
                os.remove(os.path.join(lineage, f))
    t2 = time.perf_counter()
    with run.tracer.span("checkpoint.resume"):
        resumed = run_partitioned(run.spark, frame, extract_transform, out_dir, **kw)
    t3 = time.perf_counter()
    with run.tracer.span("io.read_output"):
        noop(read_output(run.spark, out_dir))
    t4 = time.perf_counter()
    return {
        "fresh": fresh, "resumed": resumed, "crash": crash, "manifests": manifests,
        "execs": execs, "run_s": t1 - t0, "resume_s": t3 - t2, "read_s": t4 - t3,
        "out": out_dir,
    }


def _extract_traced(run: Run, frame) -> None:
    """The production path of `runner/submit.py extract` over the engine
    input, once: the checkpoint and io layers, and the resume check."""
    out = os.path.join(run.work, "extract")
    sql = SqlMetrics(run.spark)
    res = run.attempt("extract.cycle", lambda: extract_cycle(run, frame, out, sql))
    if res is None:
        return
    walls = [m["wall_sec"] for m in res["manifests"] if m.get("status") == "done"]
    nbytes, nfiles = _dir_bytes_files(out)
    plan = summarize(res["execs"])
    run.layers.update({
        "checkpoint.run_s": res["run_s"],
        "checkpoint.resume_s": res["resume_s"],
        "checkpoint.bucket_s_sum": sum(walls),
        "checkpoint.bucket_s_max": max(walls, default=0.0),
        "checkpoint.overhead_s": res["run_s"] - sum(walls),
        "checkpoint.buckets_recomputed": len(res["resumed"]["processed"]),
        "checkpoint.python_bytes_received": plan["python_bytes_received"],
        "io.bytes_written": nbytes,
        "io.files_written": nfiles,
        "io.read_output_s": res["read_s"],
    })
    _verify_extract(run, frame, res)
    shutil.rmtree(out, ignore_errors=True)


def _verify_extract(run: Run, frame, res: dict) -> None:
    from pyspark.sql import functions as F

    from mpds_spark.runner.checkpoint import read_output

    p = ENGINE
    problems = []
    if res["fresh"]["failed"] or sorted(res["fresh"]["processed"]) != list(range(N_BUCKETS)):
        problems.append(f"fresh run: {res['fresh']}")
    if sorted(res["resumed"]["processed"]) != res["crash"] or res["resumed"]["failed"]:
        problems.append(f"resume recomputed {res['resumed']}, expected {res['crash']}")
    out = read_output(run.spark, res["out"])
    ids = run.attempt(
        "verify.ids", lambda: [r[0] for r in out.select("doc_id").collect()]
    )
    if ids is not None:
        if len(ids) != len(set(ids)):
            problems.append(f"{len(ids) - len(set(ids))} duplicate rows after resume")
        if set(ids) != set(gen.doc_ids(np.arange(p["n_docs"]))):
            problems.append("read_output rows differ from the input rows")
    run.check("verify.extract_rows", problems)
    ents = verify.sample_entities(run.seed, p["n_entities"])
    got = run.attempt(
        "verify.collect",
        lambda: out.filter(F.col("entity_id").isin(ents)).drop("bucket").toPandas(),
    )
    if got is not None:
        _verify_engine(run, frame, p, got=got)


WORKLOADS = {
    "engine_tokens": engine_tokens,
    "temporal_narrow": temporal_narrow,
}
