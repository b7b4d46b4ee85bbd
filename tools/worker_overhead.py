"""CPU each Python worker spends outside the UDF, per task.

Runs an identity mapInArrow over --tasks one-row partitions, --rounds
times, in a get_spark session. The probe first imports mpds_spark, as
every engine UDF does, so it runs with the fix-ups the package installs
in a worker (mpds_spark/pyworker.py). At the start of each task it reads
the worker's CPU time (resource.getrusage, user + system) and diffs it
against the value the previous task in the same worker left at its end:
the gap is what the worker spent between two UDF bodies (task set-up,
import-cache invalidation, result flush). Prints the median gap per
worker and over all tasks; a worker's first task has no gap.
Usage: python tools/worker_overhead.py [--cores 4] [--tasks 32] [--rounds 3]
"""

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from mpds_spark.session import get_spark  # noqa: E402


def probe(batches):
    import resource

    import mpds_spark  # noqa: F401  installs the worker fix-ups
    import pyarrow as pa

    def cpu():  # this worker's user + system CPU seconds
        r = resource.getrusage(resource.RUSAGE_SELF)
        return r.ru_utime + r.ru_stime

    start = cpu()
    # a module outlives the task, so it carries the previous task's end
    state = sys.modules.setdefault("_worker_overhead", type(sys)("_worker_overhead"))
    gap = start - state.end if hasattr(state, "end") else float("nan")
    for _ in batches:  # the UDF body: nothing
        pass
    state.end = cpu()
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "gap": [gap]})


def main() -> None:
    ap = argparse.ArgumentParser()
    for flag, default in (("--cores", 4), ("--tasks", 32), ("--rounds", 3)):
        ap.add_argument(flag, type=int, default=default)
    a = ap.parse_args()
    spark = get_spark(master=f"local[{a.cores}]")
    gaps: dict = {}  # pid -> per-task gaps
    for _ in range(a.rounds):
        df = spark.range(a.tasks, numPartitions=a.tasks)
        for r in df.mapInArrow(probe, "pid long, gap double").collect():
            if r.gap == r.gap:  # NaN: the worker's first task
                gaps.setdefault(r.pid, []).append(r.gap)
    spark.stop()
    gaps["all"] = sum(gaps.values(), [])
    for pid, g in gaps.items():
        print(f"worker {pid}: {len(g)} tasks, {statistics.median(g):.3f} CPU-s outside the UDF")


if __name__ == "__main__":
    main()
