"""Feature-battery assembly: the reference's stat battery applied to one
sequence, as pure numpy (called from the Spark operators in
operators/battery.py inside Arrow UDFs). The token battery also has a
segmented form, token_features_segmented, that runs a whole Arrow batch
of variable-length rows at once from the list column's flat values and
offsets.

Layout parity: extractAccelTestV2.m:49-59 header contract — features are a
positional vector with a names manifest, reshaped row-major (stat-major per
axis: for each axis, the 18 stats in order).
"""

from __future__ import annotations

import numpy as np

from mpds_spark.functions import kernels as K
from mpds_spark.functions import mlstats as S

STAT_NAMES = [
    "mean", "std", "q1", "q3", "iqr", "median", "mode", "range",
    "s", "k", "mse", "En", "zcr", "dfc", "dfc_amp", "meanTKEO", "ar1", "dfa",
]

CROSS_NAMES = ["xcorr", "mi", "xEn"]


def stat_battery(
    a: np.ndarray,
    t: np.ndarray,
    min_f: float = 0.5,
    max_f: float = 20.0,
    regular_grid: bool = False,
) -> np.ndarray:
    """The 18-stat battery of extractAccelTestV2.m:72-101 for ONE channel.

    Order matches STAT_NAMES. t is the sample time vector (irregular ok);
    dfc/dfc_amp use the (min_f, max_f) Lomb-Scargle band (:60-71 uses
    0.5-20 Hz for 50-200 Hz accel sampling).
    """
    a = np.asarray(a, dtype=float)
    n = len(a)
    # ONE sort shared by quantiles, median, mode and entropy (same values as
    # the reference-convention helpers in mlstats — prctile's midpoint
    # interpolation, MATLAB median/mode/value-count entropy)
    xs = np.sort(a, kind="mergesort")
    if n > 1:
        qgrid = (np.arange(1, n + 1) - 0.5) / n * 100.0
        q1, q3 = np.interp([25.0, 75.0], qgrid, xs)
    else:
        q1 = q3 = xs[0]
    med = (xs[(n - 1) // 2] + xs[n // 2]) / 2.0
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(xs[1:], xs[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    counts = np.diff(np.append(starts, n))
    mode = xs[starts[np.argmax(counts)]]  # first max run = smallest value
    p = counts / n
    ent = float(-np.dot(p, np.log2(p + S.EPS)))
    # one moment pass shared by std / skewness / kurtosis (biased, MATLAB)
    mu = a.mean()
    d = a - mu
    d2 = d * d
    m2 = d2.mean()
    std = float(np.sqrt(d2.sum() / (n - 1))) if n > 1 else 0.0
    skew = float((d2 * d).mean() / m2**1.5) if m2 > 0 else np.nan
    kurt = float((d2 * d2).mean() / (m2 * m2)) if m2 > 0 else np.nan
    # zcr of the z-scored series: z-scoring is a positive affine map when
    # std > 0, so the sign pattern equals (a - mean) > 0; std == 0 gives
    # all-False either way
    zcr = float(np.sum(np.abs(np.diff((d > 0).astype(np.int8)))) / n)
    if regular_grid:
        dfc, dfc_amp = K.fft_dominant_freq(a, min_f, max_f)
    else:
        dfc, dfc_amp = K.dominant_freq(a, t, min_f, max_f)
    return np.array(
        [
            mu,
            std,
            q1,
            q3,
            q3 - q1,
            med,
            mode,
            xs[-1] - xs[0],
            skew,
            kurt,
            float(np.mean(a * a)),
            ent,
            zcr,
            dfc,
            dfc_amp,
            K.mean_tkeo(a),
            K.ar1(a),
            K.fastdfa(a),
        ]
    )


def cross_battery(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """extractAccelTestV2.m:115-120: [corrcoef, binned MI, entropy(a) +
    KL(round(a*1e4) || round(b*1e4))] for one channel pair."""
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    corr = float(np.corrcoef(a, b)[0, 1])
    mi = S.mi_binned(a, b)
    xen = S.entropy(a) + S.relative_entropy(
        np.floor(np.abs(a * 1e4) + 0.5) * np.sign(a * 1e4),  # MATLAB round
        np.floor(np.abs(b * 1e4) + 0.5) * np.sign(b * 1e4),
    )
    return np.array([corr, mi, xen])


ACCEL_AXES = ["x", "y", "z", "acc", "a", "e", "r"]
ACCEL_PAIRS = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]


def accel_feature_names() -> list[str]:
    names = [f"{ax}_{st}" for ax in ACCEL_AXES for st in STAT_NAMES]
    for i, j in ACCEL_PAIRS:
        for c in CROSS_NAMES:
            names.append(f"{ACCEL_AXES[i]}_{ACCEL_AXES[j]}_{c}")
    return names


def extract_accel_features(
    t: np.ndarray, x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> np.ndarray:
    """extractAccelTestV2.m end-to-end for one recording: axis reorder by
    gravity, mean gravity removal, magnitude + spherical channels, 7x18 stat
    battery + 9x3 cross features = 153 doubles (accel_feature_names order).

    Note the reference's channel quirks (faithfully kept): magnitude and
    spherical channels are computed from the RAW xyz (data), not the
    reordered/de-gravitied ones (extractAccelTestV2.m:39-45)."""
    t = np.asarray(t, dtype=float)
    raw = np.stack([x, y, z], axis=1).astype(float)
    reord = K.gravity_reorder(raw)
    nog = K.rmgravity_mean(reord)
    mag = np.sqrt((raw * raw).sum(axis=1))
    a, e, r = K.cart2sph(raw[:, 0], raw[:, 1], raw[:, 2])
    channels = [nog[:, 0], nog[:, 1], nog[:, 2], mag, a, e, r]
    stats = np.concatenate([stat_battery(c, t) for c in channels])
    cross = np.concatenate(
        [cross_battery(channels[i], channels[j]) for i, j in ACCEL_PAIRS]
    )
    return np.concatenate([stats, cross])


TOKEN_STAT_NAMES = [f"tok_{s}" for s in STAT_NAMES]


def token_features(tokens: np.ndarray) -> np.ndarray:
    """The 18-stat battery over one token sequence (the BASELINE.json input:
    one pre-tokenized row = one recording; implicit unit-step time grid)."""
    a = np.asarray(tokens, dtype=float)
    t = np.arange(len(a), dtype=float)
    # unit-step grid: band-limit to (0.01, 0.5] (grid Nyquist); FFT
    # periodogram (O(n log n)) — Lomb is for irregular timestamps only
    return stat_battery(a, t, min_f=0.01, max_f=0.5, regular_grid=True)


# -------------------------------------------------- tap / react / audio

STAT15_NAMES = [
    "mean", "std", "q1", "q3", "iqr", "median", "mode", "range",
    "s", "k", "mse", "En", "meanTKEO", "ar1", "dfa",
]

REACT_STAT_NAMES = [
    "sum", "mean", "std", "q1", "q3", "iqr", "median", "mode", "range",
    "s", "k", "mse", "En", "meanTKEO", "dfa",
]


def _base11(a: np.ndarray) -> list[float]:
    """The shared mean..mse block (extractTapTestV2.m:72-83 order)."""
    q1 = float(S.prctile(a, 25)[0])
    q3 = float(S.prctile(a, 75)[0])
    return [
        float(a.mean()),
        S.matlab_std(a),
        q1,
        q3,
        q3 - q1,
        S.matlab_median(a),
        S.matlab_mode(a),
        float(a.max() - a.min()),
        S.skewness(a),
        S.kurtosis(a),
        float(np.mean(a * a)),
    ]


def stat_battery15(a: np.ndarray) -> np.ndarray:
    """Tap stay/move battery (extractTapTestV2.m:57-89): 15 stats, no
    zcr/dfc (durations have no time axis)."""
    a = np.asarray(a, dtype=float)
    if len(a) == 0:
        return np.full(15, np.nan)
    return np.array(
        _base11(a) + [S.entropy(a), K.mean_tkeo(a), K.ar1(a), K.fastdfa(a)]
    )


def react_battery(lag: np.ndarray) -> np.ndarray:
    """extractReactTestV1.m:50-84: 15 stats over the reaction-lag vector
    (sum first; no zcr/dfc/ar1)."""
    a = np.asarray(lag, dtype=float)
    if len(a) == 0:
        return np.full(15, np.nan)
    return np.array(
        [float(a.sum())]
        + _base11(a)
        + [S.entropy(a), K.mean_tkeo(a), K.fastdfa(a)]
    )


def reaction_lags(
    tsp: np.ndarray, btn_visible: np.ndarray, btn_pressed: np.ndarray
) -> np.ndarray:
    """extractReactTestV1.m:27-47: mismatch state machine — a lag opens when
    visible != pressed and closes (emitting the duration) when they match.

    Vectorized: every maximal mismatch run opens at its first row and closes
    at the first match row after it; a trailing run never closes.
    """
    t = np.asarray(tsp, dtype=float)
    mm = np.asarray(btn_visible) != np.asarray(btn_pressed)
    if len(t) == 0 or not mm.any():
        return np.array([])
    edges = np.diff(mm.astype(np.int8))
    starts = np.where(edges == 1)[0] + 1
    if mm[0]:
        starts = np.concatenate([[0], starts])
    ends = np.where(edges == -1)[0] + 1  # first match row after each run
    n = min(len(starts), len(ends))  # trailing open run emits nothing
    return t[ends[:n]] - t[starts[:n]]


def extract_react_features(
    tsp: np.ndarray, btn_visible: np.ndarray, btn_pressed: np.ndarray
) -> np.ndarray:
    return react_battery(reaction_lags(tsp, btn_visible, btn_pressed))


def react_feature_names() -> list[str]:
    return [f"touch_{s}" for s in REACT_STAT_NAMES]


def tap_feature_names() -> list[str]:
    names = ["ntaps"]
    names += [f"{ax}_{st}" for ax in ("stay", "move") for st in STAT15_NAMES]
    names += ["t_xcorr", "t_mi", "t_xEn"]
    names += [f"{ax}_{st}" for ax in ("scaled_x", "scaled_y") for st in STAT_NAMES]
    names += ["scaled_xy_xcorr", "scaled_xy_mi", "scaled_xy_xEn"]
    for side in ("left", "right"):
        names += [f"scaled_{ax}_{side}_{st}" for ax in ("x", "y") for st in STAT_NAMES]
    names += [f"scaled_xy_left_{c}" for c in CROSS_NAMES]
    names += [f"scaled_xy_right_{c}" for c in CROSS_NAMES]
    return names


def _roundn100(v: float) -> float:
    """MATLAB roundn(x, 2): round to the nearest 100."""
    return float(np.floor(abs(v) / 100.0 + 0.5) * 100.0 * np.sign(v))


def extract_tap_features(
    tsp: np.ndarray, x: np.ndarray, y: np.ndarray
) -> np.ndarray:
    """extractTapTestV2.m end-to-end: ntaps + stay/move batteries + cross +
    scaled-x/y batteries + cross + left/right-subset batteries + crosses.

    getStatFeatures / getCrossFeatures are missing from the reference repo;
    reconstructed (per call-site naming, SURVEY.md §2.9) as the 18-stat
    battery over each scaled column of the subset with its own timestamps,
    and the standard cross battery on the (x, y) pair.
    """
    tsp = np.asarray(tsp, dtype=float)
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    t0 = tsp - tsp[0]
    stay, move = K.tap_segments(tsp, x)
    ntaps = float(len(stay))

    scaler = _roundn100(x.max())
    sx = x / scaler
    sy = y / scaler

    feats = [ntaps]
    feats += list(stat_battery15(stay))
    feats += list(stat_battery15(move))
    if len(stay) >= 2 and len(move) >= 2 and len(stay) == len(move):
        feats += list(cross_battery(stay, move))
    else:
        feats += [np.nan] * 3
    feats += list(stat_battery(sx, t0))
    feats += list(stat_battery(sy, t0))
    feats += list(cross_battery(sx, sy))

    mid = (x.max() - x.min()) / 2.0 + x.min()
    for mask in (x < mid, x > mid):
        ts_side = t0[mask]
        for col in (sx[mask], sy[mask]):
            if len(col) >= 2:
                feats += list(stat_battery(col, ts_side))
            else:
                feats += [np.nan] * len(STAT_NAMES)
    for mask in (x < mid, x > mid):
        a, b = sx[mask], sy[mask]
        if len(a) >= 2:
            feats += list(cross_battery(a, b))
        else:
            feats += [np.nan] * 3
    return np.asarray(feats, dtype=float)


AUDIO_FEATURE_NAMES = [
    "length", "amp_mean", "amp_std", "amp_p1_1", "amp_p1_0",
    "amp_p2_2", "amp_p2_1", "amp_p2_0", "amp_dfa",
    "pitch", "pitch_std", "pitch_p1_1", "pitch_p1_0",
    "pitch_p2_2", "pitch_p2_1", "pitch_p2_0", "pitch_dfa",
]


def extract_audio_features(data: np.ndarray, fs: float) -> np.ndarray:
    """extractAudioTestV1.m end-to-end: 0.5 s frames, per-frame peak
    amplitude, threshold (q90-min)/4+min, contiguous above-threshold runs,
    longest run trimmed to its middle half, then amplitude/pitch stats +
    deg-1/deg-2 trends + DFA. Frame indices are 1-based (MATLAB parity).
    Returns NaNs when no frame crosses the threshold."""
    data = np.asarray(data, dtype=float)
    frame = int(fs * 0.5)
    nframes = len(data) // frame
    if nframes < 1:
        return np.full(17, np.nan)
    frames = data[: nframes * frame].reshape(nframes, frame)
    amp = np.abs(frames).max(axis=1)

    amp_t = (float(S.prctile(amp, 90)[0]) - amp.min()) / 4.0 + amp.min()
    runs = []  # (start, end, len_secs): 1-based; interior end = first frame below
    start = 0
    for i in range(1, nframes + 1):
        if amp[i - 1] > amp_t:
            if start == 0:
                start = i
        elif start != 0:
            runs.append((start, i, (i - start) * 0.5))
            start = 0
    if start != 0:
        runs.append((start, nframes, (nframes - start + 1) * 0.5))
    if not runs:
        return np.full(17, np.nan)

    v_start, v_end, v_len = max(runs, key=lambda r: r[2])
    rng = v_end - v_start + 1
    v_start += rng // 4
    v_end -= rng // 4

    idx = np.arange(v_start, v_end + 1)  # 1-based frame indices
    amp_sl = amp[v_start - 1 : v_end]
    amp_p1 = np.polyfit(idx, amp_sl, 1)
    amp_p2 = np.polyfit(idx, amp_sl, 2)

    pitch = np.array(
        [K.pwelch_pitch(frames[i - 1], fs, 10240) for i in idx]
    )
    v_data = data[(v_start - 1) * frame : v_end * frame]
    v_pitch = K.pwelch_pitch(v_data, fs, 10240)
    pitch_p1 = np.polyfit(idx, pitch, 1)
    pitch_p2 = np.polyfit(idx, pitch, 2)

    return np.array(
        [
            v_len,
            float(amp_sl.mean()),
            S.matlab_std(amp_sl),
            amp_p1[0], amp_p1[1],
            amp_p2[0], amp_p2[1], amp_p2[2],
            K.fastdfa(amp_sl),
            v_pitch,
            S.matlab_std(pitch),
            pitch_p1[0], pitch_p1[1],
            pitch_p2[0], pitch_p2[1], pitch_p2[2],
            K.fastdfa(pitch),
        ]
    )


# Cap on the tokens one segmented call holds: each stage keeps about ten
# float arrays of this length alive (1 MiB each), so Python-worker memory
# stays flat however long the documents or large the Arrow batch.
_TOKENS_PER_CALL = 1 << 17


def token_features_segmented(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """token_features for every row of a list column given as its flat
    values + offsets (the Arrow list buffers) -> (B, 18) in STAT_NAMES
    order. Row i is flat[offsets[i]:offsets[i+1]]; an empty row gives NaN.

    Each stat is a fixed number of whole-batch numpy passes, whatever the
    mix of lengths (the scalar path costs ~0.3-2 ms of numpy call overhead
    PER sequence): one sort keyed by (row, value) feeds q1/q3/median/
    mode/entropy/range; reduceat over the rows gives the moments, mse, zcr,
    TKEO and AR1; fastdfa and the FFT periodogram run as the segmented
    kernels in kernels.py. Sums over a whole row are bitwise the scalar
    ones; everything matches token_features to <= 1e-12 relative
    (differential test: tests/test_battery_batch.py). Calls are split into
    row ranges of at most _TOKENS_PER_CALL tokens (a longer row runs alone).
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    B = len(offsets) - 1
    out = np.full((B, len(TOKEN_STAT_NAMES)), np.nan)
    lo = 0
    while lo < B:
        hi = int(np.searchsorted(offsets, offsets[lo] + _TOKENS_PER_CALL, "right")) - 1
        hi = min(max(hi, lo + 1), B)
        rows = np.flatnonzero(offsets[lo + 1 : hi + 1] > offsets[lo : hi])
        if len(rows):
            out[lo + rows] = _segmented_battery(flat, offsets[lo : hi + 1], rows)
        lo = hi
    return out


def _sort_within(raw: np.ndarray, seg: np.ndarray) -> np.ndarray:
    """raw sorted within each run of equal (nondecreasing) seg, as floats:
    one int64 sort keyed by (seg, value code), 3-9x faster than np.lexsort.
    Integers code as value - min (the token case, ~2.5x faster than
    ranking); other values, or too wide a range, code as their rank."""
    if raw.dtype.kind in "iu" and np.can_cast(raw.dtype, np.int64):
        lo = int(raw.min())
        width = max(int(raw.max()) - lo, 1).bit_length()
        if width + int(seg[-1]).bit_length() <= 62:
            code = raw.astype(np.int64) - lo
            return (_sort_codes(seg, code, width) + lo).astype(float)
    vals, rank = np.unique(raw, return_inverse=True)
    width = max(len(vals) - 1, 1).bit_length()
    return vals[_sort_codes(seg, rank, width)].astype(float)


def _sort_codes(seg, code, width: int) -> np.ndarray:
    """Codes (< 2**width) sorted within each run of equal seg."""
    key = seg.astype(np.int64) << width
    key |= code
    key.sort()
    return key & ((1 << width) - 1)


def _interp_quantile(xs, st, n, q: float) -> np.ndarray:
    """np.interp(q, (arange(1, n+1) - 0.5) / n * 100, row) for every sorted
    row xs[st:st+n] — the same bracket and interior formula as numpy's."""
    def grid(i):
        return (i + 1 - 0.5) / n * 100.0

    j = np.clip(np.floor(n * (q / 100.0) - 0.5).astype(np.int64), -1, n - 1)
    j += (j + 1 <= n - 1) & (grid(j + 1) <= q)
    j -= (j >= 0) & (grid(j) > q)
    jj = np.clip(j, 0, np.maximum(n - 2, 0))
    g = grid(jj)
    lo = xs[st + jj]
    hi = xs[st + np.minimum(jj + 1, n - 1)]
    val = np.where(g == q, lo, (hi - lo) / (grid(jj + 1) - g) * (q - g) + lo)
    return np.where(j < 0, xs[st], np.where(j >= n - 1, xs[st + n - 1], val))


def _segmented_battery(flat, offs, rows) -> np.ndarray:
    """The 18 stats of the non-empty rows `rows` of flat/offs -> (D, 18),
    in three stages so each one's temporaries are freed before the next."""
    raw = flat[offs[0] : offs[-1]]
    n = offs[rows + 1] - offs[rows]
    st = offs[rows] - offs[0]
    P = st + np.arange(len(n))  # zero slot before each row (kernels.py layout)
    xp = np.insert(raw.astype(float), st, 0.0)
    stats = _order_stats(raw, st, n)
    stats.update(_moment_stats(xp, P, n))
    stats["dfa"] = K.fastdfa_segmented(xp, P, n)
    return np.column_stack([stats[s] for s in STAT_NAMES])


def _order_stats(raw, st, n) -> dict:
    """Quantiles, median, mode, range and value-count entropy of every row,
    from one sort of the whole batch keyed by (row, value)."""
    N = len(raw)
    seg = np.repeat(np.arange(len(n)), n)
    xs = _sort_within(raw, seg)
    q1 = _interp_quantile(xs, st, n, 25.0)
    q3 = _interp_quantile(xs, st, n, 75.0)
    change = np.empty(N, dtype=bool)
    change[0] = True
    np.not_equal(xs[1:], xs[:-1], out=change[1:])
    change[st] = True
    rs = np.flatnonzero(change)  # value runs; mode = first longest run
    rc = np.diff(rs, append=N)
    rptr = np.searchsorted(rs, st)
    rseg = seg[rs]
    top = np.maximum.reduceat(rc, rptr)
    p = rc / n[rseg]
    return {
        "q1": q1, "q3": q3, "iqr": q3 - q1,
        "median": (xs[st + (n - 1) // 2] + xs[st + n // 2]) / 2.0,
        "mode": xs[np.minimum.reduceat(np.where(rc == top[rseg], rs, N), rptr)],
        "range": xs[st + n - 1] - xs[st],
        "En": -np.add.reduceat(p * np.log2(p + S.EPS), rptr),
    }


def _moment_stats(xp, P, n) -> dict:
    """Moments, mse, zcr, dominant frequency, TKEO and AR1 of every row of
    the padded batch xp: each a reduceat starting on a row's zero slot."""
    pairs = K.segment_pairs
    mu = np.add.reduceat(xp, P) / n
    d = xp - np.repeat(mu, n + 1)
    d[P] = 0.0
    pos = d > 0
    flips = np.zeros(len(xp), dtype=bool)
    np.not_equal(pos[1:], pos[:-1], out=flips[1:])
    flips[P] = flips[P + 1] = False
    dfc, dfc_amp = K.fft_dominant_freq_segmented(d, P, n, 0.01, 0.5)
    d2 = d * d
    ss = np.add.reduceat(d2, P)
    m3 = np.add.reduceat(d2 * d, P) / n
    m4 = np.add.reduceat(np.multiply(d2, d2, out=d2), P) / n
    del d, d2
    m2 = ss / n
    sq = xp * xp
    teo = np.zeros(len(xp))  # x[i]^2 - x[i+1]*x[i-1]
    teo[1:-1] = xp[1:-1] ** 2 - xp[2:] * xp[:-2]
    teo[P + 1] = 0.0
    lag = np.zeros(len(xp))  # x[i]*x[i+1]
    lag[:-1] = xp[:-1] * xp[1:]
    head = pairs(P, P + n)  # [0, x0 .. x(n-2)]
    den = np.add.reduceat(sq, head)[::2]
    with np.errstate(divide="ignore", invalid="ignore"):
        return {
            "mean": mu,
            "std": np.where(n > 1, np.sqrt(ss / (n - 1)), 0.0),
            "s": np.where(m2 > 0, m3 / m2**1.5, np.nan),
            "k": np.where(m2 > 0, m4 / (m2 * m2), np.nan),
            "mse": np.add.reduceat(sq, P) / n,
            "zcr": np.add.reduceat(flips, P, dtype=np.int64) / n,
            "dfc": dfc,
            "dfc_amp": dfc_amp,
            "meanTKEO": np.where(
                n >= 3, np.add.reduceat(teo, pairs(P + 1, P + n))[::2] / (n - 2), np.nan
            ),
            "ar1": np.where(
                (n >= 2) & (den != 0), np.add.reduceat(lag, head)[::2] / den, np.nan
            ),
        }
