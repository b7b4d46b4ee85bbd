"""Per-stat seconds of the token battery: segmented kernel vs scalar path.

Writes the engine_tokens benchmark input with perfbench.gen.write_sequences,
reads each file's token column back as one Arrow batch, and runs the
18-stat battery over every batch under cProfile twice: token_features_segmented
on the list buffers, then scalar token_features per row. Each line names
the stats one kernel function computes; "rest" is the remaining time.

Usage: python tools/profile_battery.py [--seed 101] [--docs 4000]
"""

import argparse
import cProfile
import os
import pstats
import sys
import tempfile

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpds_spark.functions import battery as Bt  # noqa: E402
from mpds_spark.functions import kernels as K  # noqa: E402
from perfbench import gen  # noqa: E402

STAGES = {
    "segmented": [
        ("dfa", K.fastdfa_segmented),
        ("dfc dfc_amp", K.fft_dominant_freq_segmented),
        ("q1 q3 iqr median range (sort)", Bt._sort_within, Bt._interp_quantile),
    ],
    "scalar": [
        ("dfa", K.fastdfa),
        ("dfc dfc_amp", K.fft_dominant_freq),
        ("meanTKEO", K.mean_tkeo),
        ("ar1", K.ar1),
    ],
}


def profile(fn, batches, stages):
    prof = cProfile.Profile()
    prof.runcall(lambda: [fn(col) for col in batches])
    cum = {k: v[3] for k, v in pstats.Stats(prof).stats.items()}

    def seconds(f):
        c = f.__code__
        return cum.get((c.co_filename, c.co_firstlineno, c.co_name), 0.0)

    total = max(cum.values())
    rows = [(s[0], sum(seconds(f) for f in s[1:])) for s in stages]
    return rows + [("rest", total - sum(r[1] for r in rows)), ("total", total)]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--docs", type=int, default=4000)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        gen.write_sequences(tmp, args.docs, args.seed)
        batches = [
            pq.read_table(os.path.join(tmp, f), columns=["tokens"])
            .column("tokens").combine_chunks()
            for f in sorted(os.listdir(tmp))
        ]
    print(f"{args.docs} docs, {sum(len(c.values) for c in batches)} tokens, "
          f"{len(batches)} batches")
    seg = profile(lambda c: Bt.token_features_segmented(
        c.values.to_numpy(), c.offsets.to_numpy()), batches, STAGES["segmented"])
    sca = profile(lambda c: [Bt.token_features(a.values.to_numpy()) for a in c],
                  batches, STAGES["scalar"])
    for label, rows in (("segmented", seg), ("scalar", sca)):
        print(f"\n{label} (s)\n" + "\n".join(f"  {k:32s} {v:8.3f}" for k, v in rows))


if __name__ == "__main__":
    main()
