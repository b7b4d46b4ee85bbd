"""Sequence kernels: numpy transcriptions of the reference's signal code.

Each consumes one ordered 1-D sequence (one entity x timestamp recording /
one token row) and returns scalars or small vectors; they run inside the
Arrow-vectorized UDFs of operators/battery.py. The token battery uses the
segmented variants at the end of this module instead, which run a whole
Arrow batch of variable-length sequences in a fixed number of numpy passes.

Transcription sources:
- zcr               ← feature_extraction/ZCR.m:15
- mean_tkeo         ← feature_extraction/FeatureMeanTKEO.m:6-9
- ar1               ← feature_extraction/FeatureAR1.m:6-11 (no-intercept
                      least squares: sum(x_t*x_{t-1})/sum(x_{t-1}^2))
- fastdfa           ← feature_extraction/fastdfa.m:23-33 +
                      fastdfa_core.c:41-161,255-263 (operates on the
                      CUMULATIVE SUM of the input; binary-subdivision
                      interval widths round(n/2^k); per-interval linear
                      detrend with closed-form Sx/Sxx on absolute indices;
                      leftover tail kept as raw signal => zero residual;
                      alpha = slope of polyfit(log10 intervals, log10 flucts))
- lomb_scargle      ← semantics of MATLAB plomb as used in
                      extractAccelTestV2.m:60-71 (default 4x oversampled
                      frequency grid; dfc = argmax frequency — invariant to
                      PSD normalization; amplitude uses the classic
                      Lomb power, documented convention)
- cart2sph          ← extractAccelTestV2.m:42-45
- gravity_reorder   ← extractAccelTestV2.m:28-36
- rmgravity         ← extractAccelTestV2.m:38-39 ('mean' mode: per-axis mean
                      subtraction — function missing from the reference repo,
                      semantics reconstructed from the call site; documented)
- tap_segments      ← extractTapTestV2.m:26-51 (sign-change state machine
                      emitting Tstay/Tmove dwell and transition durations)
- pwelch_pitch      ← feature_extraction/getPitch.m:10-18 (Welch PSD with
                      hamming(NFFT), 50% overlap, peak pick)
"""

from __future__ import annotations

import numpy as np


def zcr(x: np.ndarray) -> float:
    """ZCR.m: sum(abs(diff(x>0)))/length(x)."""
    x = np.asarray(x, dtype=float)
    return float(np.sum(np.abs(np.diff((x > 0).astype(np.int64)))) / len(x))


def mean_tkeo(x: np.ndarray) -> float:
    """FeatureMeanTKEO.m: mean(x[1:m-1]^2 - x[2:m]*x[0:m-2])."""
    x = np.asarray(x, dtype=float)
    m = len(x)
    if m < 3:
        return np.nan
    return float(np.mean(x[1 : m - 1] ** 2 - x[2:m] * x[0 : m - 2]))


def ar1(x: np.ndarray) -> float:
    """FeatureAR1.m: regress(x[2:], x[:-1]) — no-intercept OLS coefficient."""
    x = np.asarray(x, dtype=float)
    if len(x) < 2:
        return np.nan
    prev = x[:-1]
    nxt = x[1:]
    denom = np.dot(prev, prev)
    return float(np.dot(prev, nxt) / denom) if denom != 0 else np.nan


def _dfa_intervals(n: int) -> np.ndarray:
    """fastdfa_core.c:255-263 + 58-75: binary-subdivision interval widths."""
    n_scales = int(np.log10(n) / np.log10(2.0))
    if float(1 << (n_scales - 1)) > n / 2.5:
        n_scales -= 1
    scales = np.arange(n_scales)
    subdivs = 1 << scales
    return (n / subdivs + 0.5).astype(np.int64)  # (unsigned long)(x + 0.5)


def _dfa_flucts(y: np.ndarray, intervals: np.ndarray) -> np.ndarray:
    """fastdfa_core.c:80-161 (dfa) on the accumulated signal y, vectorized
    per scale by reshaping full intervals into a (k, m) matrix."""
    n = len(y)
    flucts = np.empty(len(intervals), dtype=float)
    for s, m in enumerate(intervals):
        m = int(m)
        k = n // m  # number of complete intervals
        resid_sq = 0.0
        if k > 0:
            xm = y[: k * m].reshape(k, m)
            starts = np.arange(k, dtype=float) * m
            ends = starts + m - 1
            j = np.arange(m, dtype=float)
            sy = xm.sum(axis=1)
            sxy = starts * sy + (xm * j).sum(axis=1)
            sx = (ends + starts) * m / 2.0
            sxx = m * (
                2 * ends**2 + 2 * starts**2 + 2 * starts * ends + ends - starts
            ) / 6.0
            delta = m * sxx - sx * sx
            b = (sy * sxx - sx * sxy) / delta
            a = (m * sxy - sx * sy) / delta
            trend = a[:, None] * (starts[:, None] + j[None, :]) + b[:, None]
            resid_sq = float(((xm - trend) ** 2).sum())
        # tail elements (idx >= k*m): trend[i] = y[i] => zero residual
        flucts[s] = np.sqrt(resid_sq / n)
    return flucts


def fastdfa(x: np.ndarray) -> float:
    """fastdfa.m: scaling exponent alpha of the input signal.

    The C core receives the CUMULATIVE SUM of x (fastdfa_core.c:214), windows
    it, detrends per interval, and alpha is the log-log slope. polyfit runs
    over the scale-ordered (unsorted) vectors, which gives the identical
    slope as the sorted ones (fastdfa.m:28-33)."""
    x = np.asarray(x, dtype=float)
    if len(x) < 8:
        return np.nan
    y = np.cumsum(x)
    intervals = _dfa_intervals(len(y))
    if len(intervals) < 2:
        return np.nan
    flucts = _dfa_flucts(y, intervals)
    with np.errstate(divide="ignore"):
        lx = np.log10(intervals.astype(float))
        ly = np.log10(flucts)
    ok = np.isfinite(ly)
    if ok.sum() < 2:
        return np.nan
    return float(np.polyfit(lx[ok], ly[ok], 1)[0])


def lomb_scargle(
    x: np.ndarray, t: np.ndarray, fmax: float, ofac: int = 4
) -> tuple[np.ndarray, np.ndarray]:
    """Lomb-Scargle periodogram on irregular samples (plomb semantics).

    Frequency grid: k * 1/(ofac*span) for k=1.., up to fmax (MATLAB plomb's
    default 4x oversampling). Power: classic Lomb
      P(w) = [ (sum xc*cos w(t-tau))^2 / sum cos^2 +
               (sum xc*sin w(t-tau))^2 / sum sin^2 ] / 2
    with x mean-centered. The dominant-frequency feature (argmax) is
    invariant to the PSD normalization constant; the amplitude feature uses
    this classic power (documented convention — MATLAB's 'psd' scaling
    differs by a constant factor)."""
    t = np.asarray(t, dtype=float)
    x = np.asarray(x, dtype=float)
    span = t.max() - t.min()
    df = 1.0 / (ofac * span)
    k = int(np.floor(fmax / df))
    f = df * np.arange(1, k + 1)
    xc = x - x.mean()
    w = 2.0 * np.pi * f[:, None]  # (F, 1)
    wt = w * t[None, :]  # (F, n)
    tau = np.arctan2(np.sin(2 * wt).sum(axis=1), np.cos(2 * wt).sum(axis=1)) / (
        2.0 * w[:, 0]
    )
    arg = w * (t[None, :] - tau[:, None])
    c = np.cos(arg)
    s = np.sin(arg)
    pc = (xc[None, :] * c).sum(axis=1) ** 2 / (c**2).sum(axis=1)
    ps = (xc[None, :] * s).sum(axis=1) ** 2 / (s**2).sum(axis=1)
    return f, 0.5 * (pc + ps)


def dominant_freq(
    x: np.ndarray, t: np.ndarray, min_f: float = 0.5, max_f: float = 20.0
) -> tuple[float, float]:
    """extractAccelTestV2.m:60-71: band-limited dominant frequency + power."""
    f, p = lomb_scargle(x, t, max_f)
    keep = f > min_f
    f, p = f[keep], p[keep]
    if len(f) == 0:
        return np.nan, np.nan
    i = int(np.argmax(p))
    return float(f[i]), float(p[i])


def fft_dominant_freq(
    x: np.ndarray, min_f: float = 0.01, max_f: float = 0.5
) -> tuple[float, float]:
    """Dominant frequency on a REGULAR unit-step grid via the FFT
    periodogram — O(n log n) equivalent of the Lomb periodogram for
    evenly-sampled input (used for token sequences; the O(n^2) Lomb kernel
    is reserved for genuinely irregular timestamps)."""
    x = np.asarray(x, dtype=float)
    n = len(x)
    if n < 4:
        return np.nan, np.nan
    xc = x - x.mean()
    p = np.abs(np.fft.rfft(xc)) ** 2 / n
    f = np.arange(len(p)) / n
    keep = (f > min_f) & (f <= max_f)
    if not keep.any():
        return np.nan, np.nan
    fk, pk = f[keep], p[keep]
    i = int(np.argmax(pk))
    return float(fk[i]), float(pk[i])


def cart2sph(x, y, z):
    """MATLAB cart2sph: azimuth, elevation, radius (extractAccelTestV2.m:42)."""
    a = np.arctan2(y, x)
    e = np.arctan2(z, np.hypot(x, y))
    r = np.sqrt(x * x + y * y + z * z)
    return a, e, r


def gravity_reorder(xyz: np.ndarray) -> np.ndarray:
    """extractAccelTestV2.m:28-36: permute the 3 axes by descending
    |mean| — (gravity, walking, z)."""
    m = np.abs(xyz.mean(axis=0))
    order = np.argsort(-m, kind="stable")
    return xyz[:, order]


def rmgravity_mean(xyz: np.ndarray) -> np.ndarray:
    """rmgravity(X, 'mean') — undefined in the reference repo; reconstructed
    as per-axis mean subtraction (the conservative reading of 'mean' mode),
    documented as derived semantics (SURVEY.md §2.9)."""
    return xyz - xyz.mean(axis=0, keepdims=True)


def tap_segments(tsp: np.ndarray, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """extractTapTestV2.m:26-51: alternation state machine around the x
    midpoint, emitting (Tstay, Tmove) duration arrays. Vectorized via
    sign-change indices (same outputs as the sequential loop)."""
    tsp = np.asarray(tsp, dtype=float) - float(tsp[0])
    x = np.asarray(x, dtype=float)
    mid = (x.max() - x.min()) / 2.0 + x.min()
    s = np.sign(x - mid)
    # Reference state-machine semantics (extractTapTestV2.m:29-45), run-based:
    # the machine is UNINITIALIZED while its state sign is 0 — it (re-)inits
    # at the next sample without emitting. A transition from a NONZERO state
    # to a different sign (including 0) emits (Tstay, Tmove). Hence, over
    # maximal equal-sign runs: an emission fires at the start of every run
    # whose PREVIOUS run has nonzero sign; Tstay spans the previous run.
    n = len(s)
    run_starts = np.concatenate([[0], np.where(s[1:] != s[:-1])[0] + 1])
    run_signs = s[run_starts]
    if len(run_starts) < 2:
        return np.array([]), np.array([])
    emit = run_signs[:-1] != 0  # for runs 1..m-1: previous run nonzero?
    c = run_starts[1:][emit]  # emission indices (starts of runs)
    prev_start = run_starts[:-1][emit]
    if len(c) == 0:
        return np.array([]), np.array([])
    return tsp[c - 1] - tsp[prev_start], tsp[c] - tsp[c - 1]


def find_peaks_simple(x: np.ndarray) -> np.ndarray:
    """MATLAB findpeaks default: strict local maxima (both neighbors lower)."""
    x = np.asarray(x, dtype=float)
    if len(x) < 3:
        return np.array([], dtype=np.int64)
    return np.where((x[1:-1] > x[:-2]) & (x[1:-1] > x[2:]))[0] + 1


def pwelch_pitch(data: np.ndarray, fs: float, nfft: int = 512) -> float:
    """getPitch.m: Welch PSD (hamming(NFFT), 50% overlap, NFFT-point FFT),
    strongest peak index → pitch = idx/len(psd)*(fs/2) (1-based idx)."""
    data = np.asarray(data, dtype=float)
    win = np.hamming(nfft)
    step = nfft // 2
    if len(data) < nfft:
        seg = np.zeros(nfft)
        seg[: len(data)] = data
        segs = seg[None, :]
    else:
        n_seg = (len(data) - nfft) // step + 1
        idx = np.arange(nfft)[None, :] + step * np.arange(n_seg)[:, None]
        segs = data[idx]
    segs = (segs - 0.0) * win[None, :]
    spec = np.fft.rfft(segs, n=nfft, axis=1)
    psd = (np.abs(spec) ** 2).mean(axis=0)
    # one-sided scaling (MATLAB pwelch): double non-DC/non-Nyquist bins
    scale = 1.0 / (fs * (win**2).sum())
    psd = psd * scale
    psd[1:-1] *= 2.0
    pk = find_peaks_simple(psd)
    if len(pk) == 0:
        return np.nan
    best = pk[np.argmax(psd[pk])]
    return float((best + 1) / len(psd) * (fs / 2.0))


# -------------------------------------------------------------- segmented
# Whole-batch variants over many variable-length sequences at once. The
# scalar kernels above spend 60-120us of numpy call overhead PER SCALE per
# sequence (fastdfa is ~2/3 of the token battery), so these run each step
# as a fixed number of numpy passes over the whole batch instead.
#
# Layout ("padded flat"): sequence d occupies xp[P[d]+1 : P[d]+1+n[d]] and
# the slot xp[P[d]] just before it holds 0. np.add.reduceat(v, [i, j])
# returns v[i] + pairwise_sum(v[i+1:j]); starting each reduction on a zero
# slot makes it pairwise_sum(v[i+1:j]), the summation order of v.sum() in
# the 1-D kernels, so a whole-sequence sum is bitwise the scalar one.
# Per-interval DFA sums start on data (no zero slot between intervals), Sxy
# is summed directly, and the log-log slope is a closed-form OLS instead of
# np.polyfit's lstsq; all stay within 1e-12 relative of the scalar path
# (tests/test_battery_batch.py).


def segment_pairs(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """reduceat indices whose EVEN results are the sums over [lo[d], hi[d])
    (needs lo[d] < hi[d] <= lo[d+1]; odd results are discarded)."""
    return np.stack([lo, hi], axis=1).ravel()


def fastdfa_segmented(xp: np.ndarray, P: np.ndarray, n: np.ndarray) -> np.ndarray:
    """fastdfa for every sequence of a padded flat batch -> (D,) alphas.

    Same transcription as fastdfa(): DFA on the per-sequence cumulative sum
    (one np.cumsum per sequence, so it is exactly the scalar one),
    binary-subdivision interval widths, closed-form per-interval linear
    detrend on absolute indices, tail kept raw. Scale s then runs over every
    sequence that has scale s together: interval boundaries
    base + t*round(n/2^s) by repeat/arange, Sy and Sxy per interval by
    reduceat, the closed-form a and b, the residual in the DIRECT form
    sum((y - trend)^2) (the SSE identity cancels catastrophically when the
    residual is small against sum(y^2)), and one reduceat per sequence over
    its [base, base + k*m) interval span.
    """
    D = len(n)
    alpha = np.full(D, np.nan)
    # longest first: the sequences that still have scale s are then a
    # prefix of the layout, and scale s works on that prefix only
    ok = np.flatnonzero(n >= 8)
    ok = ok[np.argsort(-n[ok], kind="stable")]
    if not len(ok):
        return alpha
    nd = n[ok]
    # _dfa_intervals, vectorized over sequences
    n_sc = (np.log10(nd) / np.log10(2.0)).astype(np.int64)
    n_sc -= (2.0 ** (n_sc - 1) > nd / 2.5).astype(np.int64)
    base = np.cumsum(nd + 1) - nd  # first value of each sequence
    L = int(base[-1] + nd[-1]) + 1  # trailing zero: every end is an index
    y = np.zeros(L)
    for src, dst, k in zip((P[ok] + 1).tolist(), base.tolist(), nd.tolist()):
        np.cumsum(xp[src : src + k], out=y[dst : dst + k])
    # absolute index of each value within its sequence (-1 on zero slots):
    # the scalar kernel's Sxy = start*Sy + sum(j*y) is one reduceat of loc*y
    loc = np.zeros(L)
    loc[:-1] = np.arange(L - 1) - np.repeat(base, nd + 1)
    locy = loc * y
    S = int(n_sc[0])
    flucts = np.zeros((len(ok), S))  # log10(0) = -inf drops unused scales
    widths = np.ones((len(ok), S))
    for s in range(S):
        A = int(np.searchsorted(-n_sc, -s, "left"))  # sequences with scale s
        end = int(base[A]) if A < len(ok) else L
        na = nd[:A]
        m = (na / (1 << s) + 0.5).astype(np.int64)
        k = na // m
        # entries: a leading filler [0, base[0]), then per sequence its
        # k interval starts and the start of its tail (a filler up to the
        # next sequence)
        cnt = k + 1
        owner = np.repeat(np.arange(A), cnt)
        t = np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        mo = m[owner]
        rel = t * mo
        idx = np.concatenate(([0], base[owner] + rel))
        interval = np.concatenate(([False], t < k[owner]))
        mm = np.concatenate(([1], mo))
        starts = np.concatenate(([0], rel)).astype(float)
        span = np.diff(idx, append=end)
        sy = np.add.reduceat(y[:end], idx)
        sxy = np.add.reduceat(locy[:end], idx)
        ends = starts + mm - 1
        sx = (ends + starts) * mm / 2.0
        sxx = mm * (
            2 * ends**2 + 2 * starts**2 + 2 * starts * ends + ends - starts
        ) / 6.0
        delta = mm * sxx - sx * sx
        with np.errstate(divide="ignore", invalid="ignore"):
            b = np.where(interval, (sy * sxx - sx * sxy) / delta, 0.0)
            a = np.where(interval, (mm * sxy - sx * sy) / delta, 0.0)
        # fillers get a = b = 0 and y = 0 on zero slots, so r = 0 there
        r = np.repeat(a, span)
        r *= loc[:end]
        r += np.repeat(b, span)
        np.subtract(y[:end], r, out=r)
        r *= r
        resid = np.add.reduceat(r, segment_pairs(base[:A] - 1, base[:A] + k * m))[::2]
        flucts[:A, s] = np.sqrt(resid / na)
        widths[:A, s] = m
    # alpha: slope of the log-log fit over the finite flucts, as a centred
    # closed-form OLS (np.polyfit per sequence would cost ~50us each)
    with np.errstate(divide="ignore"):
        ly = np.log10(flucts)
    fin = np.isfinite(ly)
    cnt = fin.sum(axis=1, keepdims=True)
    lx = np.where(fin, np.log10(widths), 0.0)
    ly = np.where(fin, ly, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        dx = np.where(fin, lx - lx.sum(axis=1, keepdims=True) / cnt, 0.0)
        dy = np.where(fin, ly - ly.sum(axis=1, keepdims=True) / cnt, 0.0)
        var = (dx * dx).sum(axis=1)
        slope = (dx * dy).sum(axis=1) / var
    alpha[ok] = np.where((cnt[:, 0] >= 2) & (var > 0), slope, np.nan)
    return alpha


def fft_dominant_freq_segmented(
    dp: np.ndarray, P: np.ndarray, n: np.ndarray,
    min_f: float = 0.01, max_f: float = 0.5,
) -> tuple[np.ndarray, np.ndarray]:
    """fft_dominant_freq for every sequence of a padded flat batch of
    MEAN-CENTRED values -> ((D,) freqs, (D,) powers). The frequency grid
    depends on n, so this is the one step that stays per length: sequences
    of one length share one 2-D rfft call."""
    freq = np.full(len(n), np.nan)
    power = np.full(len(n), np.nan)
    cand = np.flatnonzero(n >= 4)
    order = cand[np.argsort(n[cand], kind="stable")]
    for grp in np.split(order, np.flatnonzero(np.diff(n[order])) + 1):
        if not len(grp):
            continue
        ln = int(n[grp[0]])
        f = np.arange(ln // 2 + 1) / ln
        keep = np.flatnonzero((f > min_f) & (f <= max_f))
        if not len(keep):
            continue
        X = dp[(P[grp] + 1)[:, None] + np.arange(ln)]
        R = np.fft.rfft(X, axis=1)[:, keep[0] : keep[-1] + 1]
        pk = np.abs(R) ** 2 / ln
        i = np.argmax(pk, axis=1)
        freq[grp] = f[keep[0] + i]
        power[grp] = pk[np.arange(len(grp)), i]
    return freq, power
