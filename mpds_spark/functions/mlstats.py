"""MATLAB-convention statistics, transcribed from the reference sources.

Spark's builtins intentionally differ from MATLAB (percentile interpolation,
bias-corrected excess kurtosis, sample vs population std), so every stat the
feature battery emits is computed here in numpy with the exact reference
convention, and the Spark operators call these inside Arrow-vectorized UDFs.

Transcription sources (cited per function):
- prctile / median / mode / skewness / kurtosis: MATLAB semantics used by
  feature_extraction/extractAccelTestV2.m:72-101
- entropy: feature_extraction/InfoTheory/entropy.m:1-9
- relative_entropy: feature_extraction/InfoTheory/relativeEntropy.m:1-21
- mi / hist2: feature_extraction/mi/mi.m:16-41, mi/hist2.m:15-34
- joint/conditional entropy: InfoTheory/*.m
"""

from __future__ import annotations

import numpy as np

EPS = np.finfo(np.float64).eps  # MATLAB eps = 2.220446049250313e-16


def prctile(x: np.ndarray, p) -> np.ndarray:
    """MATLAB prctile: linear interpolation between midpoint-anchored order
    statistics — sorted x at cumulative probabilities (0.5/n … (n-0.5)/n),
    clamped to min/max outside that range."""
    x = np.sort(np.asarray(x, dtype=float))
    n = len(x)
    p = np.atleast_1d(np.asarray(p, dtype=float))
    if n == 0:
        return np.full(p.shape, np.nan)
    if n == 1:
        return np.full(p.shape, x[0])
    q = (np.arange(1, n + 1) - 0.5) / n * 100.0
    out = np.interp(p, q, x)  # np.interp clamps at the ends like MATLAB
    return out


def matlab_median(x: np.ndarray) -> float:
    return float(np.median(np.asarray(x, dtype=float)))


def matlab_mode(x: np.ndarray) -> float:
    """MATLAB mode: most frequent value; ties broken by smallest value."""
    vals, counts = np.unique(np.asarray(x, dtype=float), return_counts=True)
    return float(vals[np.argmax(counts)])  # unique is sorted; argmax = first


def matlab_std(x: np.ndarray) -> float:
    """MATLAB std default: sample std (n-1)."""
    x = np.asarray(x, dtype=float)
    return float(np.std(x, ddof=1)) if len(x) > 1 else 0.0


def skewness(x: np.ndarray) -> float:
    """MATLAB skewness(x) default flag=1 (biased): m3 / m2^(3/2)."""
    x = np.asarray(x, dtype=float)
    m = x.mean()
    m2 = np.mean((x - m) ** 2)
    m3 = np.mean((x - m) ** 3)
    return float(m3 / m2**1.5) if m2 > 0 else np.nan


def kurtosis(x: np.ndarray) -> float:
    """MATLAB kurtosis(x) default flag=1 (biased, NON-excess): m4 / m2^2."""
    x = np.asarray(x, dtype=float)
    m = x.mean()
    m2 = np.mean((x - m) ** 2)
    m4 = np.mean((x - m) ** 4)
    return float(m4 / m2**2) if m2 > 0 else np.nan


def entropy(x: np.ndarray) -> float:
    """InfoTheory/entropy.m: value-count distribution, -dot(p, log2(p+eps))."""
    _, counts = np.unique(np.asarray(x), return_counts=True)
    p = counts / counts.sum()
    return float(-np.dot(p, np.log2(p + EPS)))


def joint_entropy(x: np.ndarray, y: np.ndarray) -> float:
    """InfoTheory/jointEntropy.m: H(x,y) over the joint value distribution."""
    pair = np.stack([np.asarray(x), np.asarray(y)], axis=1)
    _, counts = np.unique(pair, axis=0, return_counts=True)
    p = counts / counts.sum()
    return float(-np.dot(p, np.log2(p + EPS)))


def conditional_entropy(x: np.ndarray, y: np.ndarray) -> float:
    """InfoTheory/conditionalEntropy.m: H(x|y) = H(x,y) - H(y)."""
    return joint_entropy(x, y) - entropy(y)


def mutual_information(x: np.ndarray, y: np.ndarray) -> float:
    """InfoTheory/mutualInformation.m: Hx + Hy - Hxy (discrete values)."""
    return entropy(x) + entropy(y) - joint_entropy(x, y)


def relative_entropy(x: np.ndarray, y: np.ndarray) -> float:
    """InfoTheory/relativeEntropy.m: KL(p(x)||p(y)) over the shared integer
    support (call sites pass round(a*1e4)); -dot(Px, log2(Py+eps)-log2(Px+eps))."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    lo = min(x.min(), y.min())
    x = x - lo
    y = y - lo
    k = int(max(x.max(), y.max())) + 1
    n = len(x)
    px = np.bincount(x, minlength=k) / n
    py = np.bincount(y, minlength=k) / n
    return float(-np.dot(px, np.log2(py + EPS) - np.log2(px + EPS)))


def _matlab_hist(a: np.ndarray, L: int) -> np.ndarray:
    """MATLAB hist(a, L): L bins with centers evenly spaced on [min, max];
    edge values go to the upper bin (histc edge semantics)."""
    a = np.asarray(a, dtype=float).ravel()
    mn, mx = a.min(), a.max()
    if mx == mn:
        out = np.zeros(L)
        out[0] = len(a)
        return out
    w = (mx - mn) / L
    idx = np.floor((a - mn) / w).astype(np.int64)
    idx = np.clip(idx, 0, L - 1)
    return np.bincount(idx, minlength=L).astype(float)


def _hist2_labels(a: np.ndarray, L: int) -> np.ndarray:
    """mi/hist2.m:27-29 binning: round((A-min)*(L-1)/(max-min+eps))."""
    a = np.asarray(a, dtype=float).ravel()
    mn, mx = a.min(), a.max()
    scaled = (a - mn) * (L - 1) / (mx - mn + EPS)
    # MATLAB round: half away from zero (values here are >= 0)
    return np.floor(scaled + 0.5).astype(np.int64)


def mi_binned(a: np.ndarray, b: np.ndarray, L: int = 256) -> float:
    """mi/mi.m: binned mutual information. Marginals use MATLAB hist binning,
    the joint uses hist2's scale-round binning (faithful to the reference's
    mixed conventions); support filter pab, papb > 1e-12."""
    na = _matlab_hist(a, L)
    na = na / na.sum()
    nb = _matlab_hist(b, L)
    nb = nb / nb.sum()
    ia = _hist2_labels(a, L)
    ib = _hist2_labels(b, L)
    n2 = np.bincount(ia * L + ib, minlength=L * L).astype(float).reshape(L, L)
    n2 = n2 / n2.sum()
    papb = np.outer(na, nb)
    mask = (papb > 1e-12) & (n2 > 1e-12)
    return float(np.sum(n2[mask] * np.log2(n2[mask] / papb[mask])))


def decimal_to_bin_matrix(dec: np.ndarray, n_classes: int) -> np.ndarray:
    """mimicUsefulFunction.R:204-235 (aux.DecimalVecToBinMatrix): class ids
    0..n_classes-1 -> binary matrix, MSB in column 0."""
    dec = np.asarray(dec, dtype=np.int64)
    uniq = np.unique(dec)
    if not np.array_equal(uniq, np.arange(n_classes)):
        raise ValueError(
            f"class ids must be exactly 0..{n_classes - 1}, got {uniq}"
        )
    n_bits = int(np.ceil(np.log2(n_classes)))
    out = np.empty((len(dec), n_bits), dtype=np.int64)
    tmp = dec.copy()
    for b in range(n_bits - 1, -1, -1):
        out[:, b] = tmp % 2
        tmp //= 2
    return out


def diff_energy(vec1: np.ndarray, vec2: np.ndarray) -> dict:
    """mimicUsefulFunction.R:238-252: total L1 diff energy + per-component
    and total fractional energies."""
    v1 = np.asarray(vec1, dtype=float)
    v2 = np.asarray(vec2, dtype=float)
    d = v1 - v2
    total = float(np.abs(d).sum())
    per_comp = 2 * np.abs(d) / (np.abs(v1) + np.abs(v2))
    frac_total = 2 * total / (np.abs(v1).sum() + np.abs(v2).sum())
    return {
        "total_diff_energy": total,
        "fraction_per_component": per_comp,
        "fraction_of_total": float(frac_total),
    }
