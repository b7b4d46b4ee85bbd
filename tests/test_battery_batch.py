"""Differential: segmented token battery == scalar path (rel <= 1e-12).

The segmented kernels (functions/battery.py token_features_segmented,
kernels.py fastdfa_segmented / fft_dominant_freq_segmented) must reproduce
the scalar 18-stat battery over a whole batch of variable-length rows given
as flat values + offsets. Whole-row sums are bitwise the scalar ones; the
intended numeric deviations (DFA interval sums, the closed-form log-log
slope, the entropy dot product) are bounded at 1e-12 relative.
"""

import numpy as np
import pytest

from mpds_spark.functions import battery as Bt
from mpds_spark.functions import kernels as K
from mpds_spark.functions.battery import token_features, token_features_segmented
from mpds_spark.sources.synth import tokens_for


def _assert_feature_close(got, exp):
    got, exp = np.asarray(got), np.asarray(exp)
    assert got.shape == exp.shape
    both_nan = np.isnan(got) & np.isnan(exp)
    np.testing.assert_allclose(
        np.where(both_nan, 0.0, got),
        np.where(both_nan, 0.0, exp),
        rtol=1e-12,
        atol=0.0,
    )


def _flat(arrs):
    offsets = np.zeros(len(arrs) + 1, dtype=np.int64)
    offsets[1:] = np.cumsum([len(a) for a in arrs])
    return np.concatenate(arrs), offsets


def _assert_matches_scalar(arrs):
    got = token_features_segmented(*_flat(arrs))
    exp = np.stack(
        [token_features(a) if len(a) else np.full(18, np.nan) for a in arrs]
    )
    _assert_feature_close(got, exp)


def _padded(arrs):
    """kernels.py layout: a zero slot before each sequence."""
    n = np.array([len(a) for a in arrs])
    P = np.cumsum(n + 1) - n - 1
    xp = np.zeros(int(n.sum() + len(n)))
    for p, a in zip(P, arrs):
        xp[p + 1 : p + 1 + len(a)] = a
    return xp, P, n


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_batch_matches_scalar_synth_lengths(seed):
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 300, size=120).tolist() + [8, 8, 8, 9, 4096, 1031]
    _assert_matches_scalar([tokens_for(i, int(n), 42) for i, n in enumerate(lens)])


def test_segmented_loguniform_distinct_lengths():
    # the benchmark's length law: log-uniform 8..4096, nearly every length
    # distinct, so no two rows could share a same-length group
    rng = np.random.default_rng(5)
    lens = np.floor(8.0 * np.exp(rng.random(300) * np.log(512.0))).astype(int)
    assert len(np.unique(lens)) > 200
    _assert_matches_scalar([tokens_for(i, int(n), 9) for i, n in enumerate(lens)])


def test_batch_edge_lengths():
    # below the DFA/FFT minimums: dfa nan (n<8), dfc nan (n<4), tkeo nan (n<3)
    arrs = [
        np.array([5], dtype=np.int64),
        np.array([5, 7], dtype=np.int64),
        np.array([1, 1, 1, 1, 1, 1, 1, 1], dtype=np.int64),  # constant: std 0
        np.arange(7, dtype=np.int64),
    ]
    # lengths 1, 2, 3, 7, 8 mixed in one batch with constant rows, zero
    # rows (AR1 denominator 0), repeats of one row and an empty row
    rng = np.random.default_rng(6)
    for n in (1, 2, 3, 7, 8, 1, 8, 3, 2, 7):
        arrs.append(rng.integers(0, 50257, size=n).astype(np.int64))
        arrs.append(np.full(n, 42, dtype=np.int64))
        arrs.append(np.zeros(n, dtype=np.int64))
    arrs += [arrs[7].copy() for _ in range(4)]
    arrs.insert(9, np.empty(0, dtype=np.int64))
    _assert_matches_scalar(arrs)
    assert np.isnan(token_features_segmented(*_flat(arrs))[9]).all()
    # non-integer values sort by rank instead of by value offset
    _assert_matches_scalar([rng.normal(size=n) for n in (1, 2, 3, 7, 8, 50, 8)])


def test_batch_order_preserved_across_length_groups():
    # interleaved lengths: output row order must match input order
    arrs = [tokens_for(i, 8 + (i % 3) * 50, 7) for i in range(30)]
    _assert_matches_scalar(arrs)


def test_segmented_offsets_window_and_token_cap(monkeypatch):
    arrs = [tokens_for(i, 8 + 37 * i, 3) for i in range(12)]
    flat, offsets = _flat(arrs)
    full = token_features_segmented(flat, offsets)
    # a window of rows whose offsets do not start at 0 (a sliced list column)
    _assert_feature_close(token_features_segmented(flat, offsets[4:9]), full[4:8])
    # calls split by token count, one row longer than the cap alone
    monkeypatch.setattr(Bt, "_TOKENS_PER_CALL", 100)
    _assert_feature_close(token_features_segmented(flat, offsets), full)


def test_fastdfa_segmented_matches_scalar():
    # scale edges: n where 1 << (n_scales - 1) > n / 2.5 drops the last
    # scale, next to lengths that keep it; and n where every scale tiles n
    # exactly (k * m == n, no tail), next to lengths with a tail
    dropped = [
        n for n in range(8, 700) if len(K._dfa_intervals(n)) < int(np.log2(n))
    ]
    assert {8, 9, 16, 19, 32, 39, 512} <= set(dropped)
    exact = [16, 64, 96, 128, 1024]
    for n in exact:
        assert all(n % m == 0 for m in K._dfa_intervals(n))
    lens = [8, 9, 10, 16, 19, 20, 32, 39, 40, 511, 512, 639, 640, 100, 4096]
    lens += exact
    rng = np.random.default_rng(3)
    for arrs in (
        [rng.normal(size=n) for n in lens * 2],
        [tokens_for(i, n, 4).astype(float) for i, n in enumerate(lens)],
    ):
        _assert_feature_close(
            K.fastdfa_segmented(*_padded(arrs)), [K.fastdfa(a) for a in arrs]
        )


def test_fastdfa_segmented_constant_rows():
    # constant rows: all flucts zero -> log10 -inf everywhere -> nan alpha
    arrs = [np.ones(64), np.full(100, 3.0), np.ones(8)]
    got = K.fastdfa_segmented(*_padded(arrs))
    exp = np.array([K.fastdfa(a) for a in arrs])
    assert np.isnan(got).all() and np.isnan(exp).all()


def test_fft_segmented_matches_scalar():
    rng = np.random.default_rng(4)
    arrs = [rng.normal(size=n) for n in (4, 9, 256, 3, 9, 4)]
    xp, P, n = _padded([a - a.mean() for a in arrs])
    f, p = K.fft_dominant_freq_segmented(xp, P, n)
    for i, a in enumerate(arrs):
        _assert_feature_close([f[i], p[i]], K.fft_dominant_freq(a))


def test_chunk_tokens_passthrough_and_bounds(spark):
    """Chunk values are byte-identical slices; disjoint default covers
    every token exactly once; stride<length overlaps; remainder control."""
    from mpds_spark.operators.battery import chunk_tokens

    toks = list(range(100, 110))
    df = spark.createDataFrame(
        [(1, toks), (2, [7]), (3, [])], "doc_id int, tokens array<int>"
    )
    rows = chunk_tokens(df, 4).orderBy("doc_id", "chunk_id").collect()
    got = [(r["doc_id"], r["chunk_id"], r["tokens"]) for r in rows]
    assert got == [
        (1, 0, toks[0:4]), (1, 1, toks[4:8]), (1, 2, toks[8:10]),
        (2, 0, [7]),
    ]
    # reassembling disjoint chunks reproduces the doc exactly
    assert sum((c for _, _, c in got[:3]), []) == toks
    # full windows only
    full = chunk_tokens(df, 4, keep_remainder=False).collect()
    assert all(r["n_tok_chunk"] == 4 for r in full) and len(full) == 2
    # overlapping stride
    ov = (
        chunk_tokens(df, 4, stride=2, keep_remainder=False)
        .filter("doc_id = 1").orderBy("chunk_id").collect()
    )
    assert [r["tokens"] for r in ov] == [toks[i:i+4] for i in (0, 2, 4, 6)]
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_tokens(df, 0)
