"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload engine_tokens --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It prints one line per
metric (name, value, unit) and the error rate, then, as the last line of
stdout, one JSON object with the keys `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the `end_to_end` ones of
BENCHMARK.json, measured with tracing off; with `--trace 1` they are the
`per_layer` ones, from the traced layer measurements, and the spans are
written to `.perfbench_out/`. Everything else it writes goes under
`.perfbench_work/` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_jvm(run) -> None:
    """Stop the session, then the JVM the session launched, and wait for it:
    the JVM exits when its stdin closes, and takes its Python workers along."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    run.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:  # the engine and its test oracles come from the checkout
        import mpds_spark  # noqa: F401
        import tests.oracles  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the JVM and the Python workers it forks inherit these: no file of the
    # run lands outside the checkout, and the workers can import the engine
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    run = Run(
        work=work, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), cores=len(os.sched_getaffinity(0)), tracer=tracer,
        layers={m["name"]: 0.0 for m in spec["per_layer"]},
    )
    try:
        WORKLOADS[args.workload](run)
    finally:
        _stop_jvm(run)
        shutil.rmtree(work, ignore_errors=True)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"spans-{tracer.run_id}.jsonl"))

    values = run.layers if args.trace else run.end_to_end
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for p in run.problems:
        print(f"problem: {p}")
    print(f"inputs: {json.dumps(run.inputs)}")
    for name, m in {**run.extra, **metrics}.items():
        print(f"{name}: {m['value']} {m['unit']}")
    print(f"error_rate: {run.failed / max(1, run.attempted)} ({run.failed}/{run.attempted})")
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
