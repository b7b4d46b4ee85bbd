"""Independent references for the workloads' outputs, on a sample of entities.

The references do not run the engine's relational code:
- the token battery is the engine's scalar `token_features`, one sequence at
  a time (the engine's Spark path uses the batched kernel);
- the expanding features and LOCF are the repository's test oracles
  (`tests/oracles.py`), which transcribe the per-entity R loops;
- sessions are a numpy gap scan and the as-of join is `pandas.merge_asof`.

Keys and counts must match exactly; floats must match with `np.allclose`.
Every check returns a list of problems; an empty list means the output
is correct.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from perfbench import gen
from tests.oracles import derived_features, locf_with_expiration

RTOL, ATOL = 1e-9, 1e-9

DERIVED = [
    "dss_avg", "dss_ht_avg", "dss_ht_sq_avg", "dss_max", "dss_min",
    "dss_rate_avg", "dss_rate_ht_avg", "dss_abs_rate_avg", "dss_abs_rate_ht_avg",
]


def sample_entities(seed: int, n_entities: int, k: int = 3) -> list[str]:
    """The hot entity plus k others picked by the seed."""
    rng = np.random.default_rng(seed)
    others = rng.choice(np.arange(1, n_entities), size=k, replace=False)
    return [gen.HOT_ENTITY] + [f"ent_{int(e):05d}" for e in sorted(others)]


def is_event_doc(doc_id: str) -> bool:
    """The engine leg's 10% event subset: crc32(doc_id) % 10 == 0."""
    return zlib.crc32(doc_id.encode()) % 10 == 0


def session_reference(ht: np.ndarray, gap: float) -> np.ndarray:
    """ONE entity: a new session starts after a gap longer than `gap`."""
    new = np.concatenate([[0], (np.diff(ht) > gap).astype(np.int64)])
    return np.cumsum(new)


def asof_reference(left: pd.DataFrame, events: pd.DataFrame, tolerance=None) -> pd.DataFrame:
    """Backward as-of of (entity_id, ts) rows against (entity_id, ts,
    event_val) events; adds ts_r and event_val."""
    right = events.assign(ts_r=events["ts"]).sort_values("ts")
    return pd.merge_asof(
        left.sort_values("ts"), right, on="ts", by="entity_id",
        direction="backward", allow_exact_matches=True, tolerance=tolerance,
    )


def engine_reference(n_docs: int, seed: int, n_entities: int, hot_frac: float,
                     entities: list[str], token_features) -> pd.DataFrame:
    """Expected engine-leg rows (battery -> derived features -> as-of against
    the event subset) for the docs of `entities`."""
    i = np.arange(n_docs, dtype=np.int64)
    bucket, ts, n_tok, _ = gen.sequence_fields(i, seed, n_entities, hot_frac)
    names = gen._entity_names(bucket)
    sel = np.isin(names, entities)
    i, ts, n_tok, names = i[sel], ts[sel], n_tok[sel], names[sel]
    feats = np.stack(
        [token_features(gen.tokens_for(int(a), int(b), seed)) for a, b in zip(i, n_tok)]
    )
    df = pd.DataFrame(
        {"doc_id": gen.doc_ids(i), "entity_id": names, "ts": ts, "dss": feats[:, 0]}
    )
    df["features"] = list(feats)
    parts = []
    for _, g in df.sort_values("ts").groupby("entity_id", sort=False):
        der = derived_features(g, value="dss", ts="ts")
        parts.append(g.assign(**{c: der[c].to_numpy() for c in DERIVED}))
    df = pd.concat(parts)
    ev = df[[is_event_doc(d) for d in df["doc_id"]]]
    ev = ev[["entity_id", "ts", "dss"]].rename(columns={"dss": "event_val"})
    return asof_reference(df, ev)


def narrow_reference(n_rows: int, seed: int, n_entities: int, hot_frac: float,
                     null_frac: float, event_frac: float, entities: list[str],
                     valid_time: float, gap: float, tolerance: float) -> pd.DataFrame:
    """Expected temporal chain rows (locf -> derived features -> sessionize ->
    as-of with tolerance) for the rows of `entities`."""
    tbl = gen.narrow_batch(0, n_rows, seed, n_entities, hot_frac, null_frac, event_frac)
    df = tbl.to_pandas()
    df = df[df["entity_id"].isin(entities)].sort_values("ts")
    df["value"] = df["value"].astype(float)
    parts = []
    for _, g in df.groupby("entity_id", sort=False):
        ht = g["ts"].to_numpy()
        locf, tsls, expir = locf_with_expiration(
            g["entity_id"].to_numpy(), ht, g["value"].to_numpy(), valid_time
        )
        g = g.assign(
            value_locf=np.where(np.isnan(locf), 0.0, locf),
            value_time_since_sample=tsls, value_locf_expir=expir,
            session_id=session_reference(ht, gap),
        )
        der = derived_features(g, value="value_locf", ts="ts")
        parts.append(g.assign(**{c: der[c].to_numpy() for c in DERIVED}))
    df = pd.concat(parts)
    ev = df[df["is_event"]][["entity_id", "ts", "value"]].rename(
        columns={"value": "event_val"}
    )
    return asof_reference(df, ev, tolerance=tolerance)


def compare(got: pd.DataFrame, want: pd.DataFrame, key: str,
            exact: list[str], close: list[str]) -> list[str]:
    """Row-by-row comparison keyed on `key`: exact columns must be equal
    (NaN equal to NaN), close columns allclose; array cells compare
    element-wise."""
    problems = []
    if len(got) != len(want):
        problems.append(f"row count {len(got)} != {len(want)}")
    if got[key].duplicated().any():
        problems.append(f"duplicate {key} in output")
    if set(got[key]) != set(want[key]):
        problems.append(f"{key} sets differ")
    if problems:
        return problems
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    for c in exact:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        same = (a == b) | (pd.isna(a) & pd.isna(b))
        if not same.all():
            problems.append(f"{c}: {int((~same).sum())} rows differ")
    for c in close:
        if isinstance(w[c].iloc[0], np.ndarray):
            a = np.stack([np.asarray(x, dtype=float) for x in g[c]])
            b = np.stack(w[c].to_list())
        else:
            a = g[c].to_numpy(dtype=float)
            b = w[c].to_numpy(dtype=float)
        ok = np.isclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True)
        if not ok.all():
            problems.append(f"{c}: {int((~ok).sum())} values not close")
    return problems


ENGINE_EXACT = ["entity_id", "ts", "ts_r"]
ENGINE_CLOSE = ["features", "dss", *DERIVED, "event_val"]
NARROW_EXACT = ["entity_id", "value", "value_locf", "value_time_since_sample",
                "value_locf_expir", "session_id", "ts_r", "event_val"]
NARROW_CLOSE = DERIVED


def check_engine(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return compare(got, want, "doc_id", ENGINE_EXACT, ENGINE_CLOSE)


def check_narrow(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return compare(got, want, "ts", NARROW_EXACT, NARROW_CLOSE)
