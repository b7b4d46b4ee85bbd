"""Seeded input generator for the benchmark.

The workloads must not change when the engine changes, so this module owns
its recipe: the closed-form tokenized-sequence table (the same arithmetic as
the engine's synthetic source, copied here) and a narrow temporal table.
Both are written with pyarrow straight from numpy, so generation runs no
Spark job. Every field is a closed-form function of the row counter and the
seed: the same seed gives byte-identical files, and the verifier can
recompute any row without reading the engine's output.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = np.array(["web", "clinic", "sensor", "synthetic"])
HOT_ENTITY = "ent_00000"


def _mix(i: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """splitmix64-style hash of the row counter (vectorized)."""
    key = (seed * 0x9E3779B97F4A7C15 + salt) & 0xFFFFFFFFFFFFFFFF
    z = (i.astype(np.uint64) + np.uint64(key)) * np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _unit(h: np.ndarray, res: int = 1_000_000) -> np.ndarray:
    return (h % np.uint64(res)).astype(np.float64) / res


def _entity(i: np.ndarray, seed: int, n_entities: int, hot_frac: float) -> np.ndarray:
    """hot_frac of rows land on entity 0, the rest uniformly on [0, n)."""
    h = _mix(i, seed, 1)
    is_hot = (h % np.uint64(10_000)).astype(np.int64) < int(hot_frac * 10_000)
    return np.where(is_hot, 0, (h % np.uint64(n_entities)).astype(np.int64))


def _entity_names(bucket: np.ndarray) -> np.ndarray:
    return np.char.add("ent_", np.char.zfill(bucket.astype("U8"), 5))


def sequence_fields(i: np.ndarray, seed: int, n_entities: int, hot_frac: float):
    """(entity bucket, ts, n_tok, source index) for doc counters i."""
    bucket = _entity(i, seed, n_entities, hot_frac)
    # ts grows with the counter; jitter < step keeps it strictly monotone
    ts = i.astype(np.float64) * 7.0 + (_mix(i, seed, 3) % np.uint64(6_000)).astype(
        np.float64
    ) / 1_000.0
    # lengths: log-uniform 8..4096
    u = _unit(_mix(i, seed, 2))
    n_tok = np.floor(8.0 * np.exp(u * np.log(4096.0 / 8.0))).astype(np.int32)
    src = (_mix(i, seed, 4) % np.uint64(len(SOURCES))).astype(np.int64)
    return bucket, ts, n_tok, src


def tokens_for(i: int, n_tok: int, seed: int) -> np.ndarray:
    """Token payload of doc counter i."""
    rng = np.random.default_rng(np.uint64(seed) * np.uint64(1_000_003) + np.uint64(i))
    return rng.integers(0, VOCAB, size=int(n_tok), dtype=np.int32)


def doc_ids(i: np.ndarray) -> np.ndarray:
    return np.char.add("doc_", np.char.zfill(i.astype("U12"), 10))


def sequence_batch(lo: int, hi: int, seed: int, n_entities: int, hot_frac: float) -> pa.Table:
    i = np.arange(lo, hi, dtype=np.int64)
    bucket, ts, n_tok, src = sequence_fields(i, seed, n_entities, hot_frac)
    offsets = np.zeros(len(i) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    flat = (
        np.concatenate([tokens_for(int(a), int(b), seed) for a, b in zip(i, n_tok)])
        if len(i)
        else np.empty(0, np.int32)
    )
    return pa.table(
        {
            "doc_id": doc_ids(i),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": n_tok,
            "source": SOURCES[src],
            "entity_id": _entity_names(bucket),
            "ts": ts,
        }
    )


def narrow_batch(
    lo: int, hi: int, seed: int, n_entities: int, hot_frac: float,
    null_frac: float, event_frac: float,
) -> pa.Table:
    """(entity_id, ts, value, is_event): one global clock tick per row, so an
    ordinary entity sees a row every ~n_entities seconds and the hot one every
    ~1/hot_frac seconds."""
    i = np.arange(lo, hi, dtype=np.int64)
    bucket = _entity(i, seed, n_entities, hot_frac)
    ts = i.astype(np.float64) + _unit(_mix(i, seed, 3), 1000) * 0.9
    value = np.round(_unit(_mix(i, seed, 5)) * 100.0, 3)
    is_null = _unit(_mix(i, seed, 6)) < null_frac
    is_event = _unit(_mix(i, seed, 7)) < event_frac
    return pa.table(
        {
            "entity_id": _entity_names(bucket),
            "ts": ts,
            "value": pa.array(value, mask=is_null),
            "is_event": is_event,
        }
    )


def _write_files(out_dir: str, n_rows: int, n_files: int, make) -> dict:
    """Rows [k*n/F, (k+1)*n/F) go to file k, so the first F/4 files hold the
    first quarter of the counters."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(np.int64)
    nbytes = 0
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(make(int(bounds[k]), int(bounds[k + 1])), path)
        nbytes += os.path.getsize(path)
    return {"rows": n_rows, "files": n_files, "bytes": nbytes}


def write_sequences(
    out_dir: str, n_docs: int, seed: int, n_entities: int = 200,
    hot_frac: float = 0.02, n_files: int = 16,
) -> dict:
    stats = _write_files(
        out_dir, n_docs, n_files,
        lambda lo, hi: sequence_batch(lo, hi, seed, n_entities, hot_frac),
    )
    bucket = _entity(np.arange(n_docs), seed, n_entities, hot_frac)
    stats.update(
        entities=int(len(np.unique(bucket))), hot_rows=int((bucket == 0).sum())
    )
    return stats


def write_narrow(
    out_dir: str, n_rows: int, seed: int, n_entities: int = 20_000,
    hot_frac: float = 0.02, null_frac: float = 0.2, event_frac: float = 0.1,
    n_files: int = 16,
) -> dict:
    stats = _write_files(
        out_dir, n_rows, n_files,
        lambda lo, hi: narrow_batch(
            lo, hi, seed, n_entities, hot_frac, null_frac, event_frac
        ),
    )
    bucket = _entity(np.arange(n_rows), seed, n_entities, hot_frac)
    stats.update(
        entities=int(len(np.unique(bucket))), hot_rows=int((bucket == 0).sum())
    )
    return stats
