"""Pure-numpy time-series kernels shared by the single-node oracle and the
Spark pandas/Arrow UDFs.

Every kernel operates on a 2-D float64 matrix ``(n_series, n_time)`` — the
same "pixels x time" block shape the reference's C++ kernels receive
(e.g. ``smooth_sg_mtx`` at /root/reference/src/smooth_sgp.cpp:63-75,
``smooth_whit_mtx`` at /root/reference/src/smooth_whit.cpp:70-81,
``linear_interp`` at /root/reference/src/linear_interp.cpp:76-85) — so the
inner loops vectorize across series with numpy while recurrences run along
the (short) time axis.

Using one shared implementation on both sides makes the Spark-vs-oracle
byte-match test exercise exactly what can diverge in a distributed run:
partitioning, shuffle, grouping, ordering and salting — not float noise.

Semantics are mirrored from the reference (file:line cited per function);
they are re-implemented from the published math, not translated code.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "sgolay_coef",
    "smooth_sg_mtx",
    "smooth_whit_mtx",
    "linear_interp_mtx",
    "temp_mean",
    "temp_median",
    "temp_std",
    "temp_min",
    "temp_max",
]

# ---------------------------------------------------------------------------
# Savitzky-Golay
# ---------------------------------------------------------------------------


_SG_COEF_CACHE: dict[tuple[int, int], np.ndarray] = {}


def sgolay_coef(order: int = 3, length: int = 5) -> np.ndarray:
    """Savitzky-Golay filter coefficient matrix (length x length).

    Mirrors the reference's ``.signal_sgolay_coef``
    (/root/reference/R/api_signal.R:49-79): row ``r`` (0-based) estimates
    x(k) from the r preceding and length-1-r following samples; rows are
    pseudo-inverse rows of the Vandermonde design on the unit grid, and the
    lower half is the mirrored upper half (m=0 derivative).
    """
    if length % 2 != 1:
        raise ValueError("sgolay length must be odd")
    if order >= length:
        raise ValueError("sgolay order must be < length")
    key = (order, length)
    if key in _SG_COEF_CACHE:
        return _SG_COEF_CACHE[key]
    n, p = length, order
    filt = np.zeros((n, n), dtype=np.float64)
    k = n // 2
    for row in range(k + 1):  # R rows 1..k+1 -> 0..k
        # C[i, j] = (i - row)^j on the unit grid (R/api_signal.R:67-68)
        x = np.arange(n, dtype=np.float64) - row
        weights = x[:, None] ** np.arange(p + 1, dtype=np.float64)[None, :]
        pinv = np.linalg.pinv(weights)  # SVD pinv = .signal_mass_ginv (:97-100)
        filt[row, :] = pinv[0, :]  # m = 0 derivative row (:73)
    # mirrored lower half (R/api_signal.R:76)
    filt[k + 1 : n, :] = filt[k - 1 :: -1, ::-1]
    _SG_COEF_CACHE[key] = filt
    return filt


def _signal_filter_mtx(filt_coef: np.ndarray, data: np.ndarray) -> np.ndarray:
    """Octave-style one-sided FIR filter, rowwise over a matrix.

    Mirrors ``signal_filter`` (/root/reference/src/smooth_sgp.cpp:14-32):
    left-pad with zeros, then out[i] = sum_j ext[i+j] * coef[n-1-j].
    """
    n = filt_coef.shape[0]
    n_series, n_time = data.shape
    ext = np.concatenate(
        [np.zeros((n_series, n - 1), dtype=np.float64), data], axis=1
    )
    out = np.zeros_like(data)
    rev = filt_coef[::-1]
    for j in range(n):  # n is tiny (filter length); vectorized across series
        out += ext[:, j : j + n_time] * rev[j]
    return out


def smooth_sg_mtx(
    data: np.ndarray, coef: np.ndarray | None = None, order: int = 3, length: int = 5
) -> np.ndarray:
    """Savitzky-Golay smoothing over rows of ``data`` (series x time).

    Mirrors ``smooth_sg`` (/root/reference/src/smooth_sgp.cpp:37-59): the
    interior uses the central filter row via the one-sided FIR pass, the
    first k points use the asymmetric head rows applied to the first n
    samples, and the last k points use the tail rows applied to the last n
    samples.

    Series shorter than ``length`` are returned unchanged (the reference
    errors on them; the oracle defines passthrough — see FIXTURES.md §3.4).
    """
    if coef is None:
        coef = sgolay_coef(order, length)
    n = length
    k = n // 2
    n_series, n_time = data.shape
    if n_time < n:
        return data.copy()
    central = coef[k, :]
    z = _signal_filter_mtx(central, data)
    out = np.empty_like(data)
    # head: rows 0..k-1 of coef applied to the first n samples (:54).
    # Explicit tap loops (not matmul) so the per-row float ops are
    # identical whatever the batch height — (B, T) rows bit-match (1, T).
    for r in range(k):
        acc = data[:, 0] * coef[r, 0]
        for j in range(1, n):
            acc = acc + data[:, j] * coef[r, j]
        out[:, r] = acc
    # interior: filtered output shifted so z[n-1..] aligns to out[k..] (:55)
    out[:, k : n_time - k] = z[:, n - 1 :]
    # tail: rows k+1..n-1 applied to the last n samples (:56)
    for r in range(k + 1, n):
        acc = data[:, n_time - n] * coef[r, 0]
        for j in range(1, n):
            acc = acc + data[:, n_time - n + j] * coef[r, j]
        out[:, n_time - n + r] = acc
    return out


# ---------------------------------------------------------------------------
# Whittaker
# ---------------------------------------------------------------------------


def _whit_factor(length: int, lamb: float) -> tuple[np.ndarray, np.ndarray]:
    """Precompute the (data-independent) forward-elimination coefficients
    d, c, e for the Whittaker pentadiagonal solve with unit weights.

    Mirrors /root/reference/src/smooth_whit.cpp:34-57 with w[i] = 1. The
    factorization depends only on (length, lambda), so it is computed once
    on the driver and closed over by the UDF (same trick as the reference
    precomputing SG coefficients at R/sits_filters.R:128-129).
    """
    m = length - 1
    d = np.zeros(length)
    c = np.zeros(length)
    e = np.zeros(length)
    d[0] = 1.0 + lamb
    c[0] = -2.0 * lamb / d[0]
    e[0] = lamb / d[0]
    d[1] = 1.0 + 5.0 * lamb - d[0] * c[0] * c[0]
    c[1] = (-4.0 * lamb - d[0] * c[0] * e[0]) / d[1]
    e[1] = lamb / d[1]
    for i in range(2, m - 1):
        i1, i2 = i - 1, i - 2
        d[i] = 1.0 + 6.0 * lamb - c[i1] * c[i1] * d[i1] - e[i2] * e[i2] * d[i2]
        c[i] = (-4.0 * lamb - d[i1] * c[i1] * e[i1]) / d[i]
        e[i] = lamb / d[i]
    i1, i2 = m - 2, m - 3
    d[m - 1] = 1.0 + 5.0 * lamb - c[i1] * c[i1] * d[i1] - e[i2] * e[i2] * d[i2]
    c[m - 1] = (-2.0 * lamb - d[i1] * c[i1] * e[i1]) / d[m - 1]
    i1, i2 = m - 1, m - 2
    d[m] = 1.0 + lamb - c[i1] * c[i1] * d[i1] - e[i2] * e[i2] * d[i2]
    return d, np.stack([c, e])


_WHIT_CACHE: dict[tuple[int, float], tuple[np.ndarray, np.ndarray]] = {}


def smooth_whit_mtx(data: np.ndarray, lamb: float = 0.5) -> np.ndarray:
    """Whittaker smoother (2nd-order difference penalty) over rows.

    Mirrors the ptw-derived bespoke banded solve at
    /root/reference/src/smooth_whit.cpp:20-64 — including its boundary rows
    — with the forward/back substitution vectorized across series (the time
    recurrence stays sequential, as in the original). Series shorter than 4
    points are returned unchanged (the recurrence needs >= 4 points; the
    oracle defines passthrough).
    """
    n_series, n_time = data.shape
    if n_time < 4:
        return data.copy()
    key = (n_time, float(lamb))
    if key not in _WHIT_CACHE:
        _WHIT_CACHE[key] = _whit_factor(n_time, float(lamb))
    d, ce = _WHIT_CACHE[key]
    c, e = ce[0], ce[1]
    m = n_time - 1
    z = np.zeros_like(data)
    # forward pass (smooth_whit.cpp:37-58), vectorized across rows
    z[:, 0] = data[:, 0]
    z[:, 1] = data[:, 1] - c[0] * z[:, 0]
    for i in range(2, m - 1):
        z[:, i] = data[:, i] - c[i - 1] * z[:, i - 1] - e[i - 2] * z[:, i - 2]
    z[:, m - 1] = data[:, m - 1] - c[m - 2] * z[:, m - 2] - e[m - 3] * z[:, m - 3]
    z[:, m] = (data[:, m] - c[m - 1] * z[:, m - 1] - e[m - 2] * z[:, m - 2]) / d[m]
    # back substitution (:59-61)
    z[:, m - 1] = z[:, m - 1] / d[m - 1] - c[m - 1] * z[:, m]
    for i in range(m - 2, -1, -1):
        z[:, i] = z[:, i] / d[i] - c[i] * z[:, i + 1] - e[i] * z[:, i + 2]
    return z


_WHIT_SHARED_CACHE: dict[float, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}


def _whit_shared(max_t: int, lamb: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Shared (length-independent) forward-elimination coefficient
    sequences d, c, e.

    For any series length T, the reference's per-length factorization
    (/root/reference/src/smooth_whit.cpp:34-50, mirrored in _whit_factor)
    equals this sequence for positions 0..T-3; only the last two positions
    have boundary formulas. Computing it once lets the ragged solver share
    one coefficient table across every series in a batch, bit-exactly."""
    lamb = float(lamb)
    cached = _WHIT_SHARED_CACHE.get(lamb)
    if cached is not None and len(cached[0]) >= max_t:
        return cached
    n = max(max_t, 64)
    d = np.empty(n)
    c = np.empty(n)
    e = np.empty(n)
    d[0] = 1.0 + lamb
    c[0] = -2.0 * lamb / d[0]
    e[0] = lamb / d[0]
    d[1] = 1.0 + 5.0 * lamb - d[0] * c[0] * c[0]
    c[1] = (-4.0 * lamb - d[0] * c[0] * e[0]) / d[1]
    e[1] = lamb / d[1]
    dd, cc, ee = d, c, e
    for i in range(2, n):
        dd[i] = 1.0 + 6.0 * lamb - cc[i - 1] * cc[i - 1] * dd[i - 1] - ee[i - 2] * ee[i - 2] * dd[i - 2]
        cc[i] = (-4.0 * lamb - dd[i - 1] * cc[i - 1] * ee[i - 1]) / dd[i]
        ee[i] = lamb / dd[i]
    _WHIT_SHARED_CACHE[lamb] = (d, c, e)
    return d, c, e


def smooth_whit_ragged(
    flat: np.ndarray, offsets: np.ndarray, lengths: np.ndarray, lamb: float = 0.5
) -> np.ndarray:
    """Whittaker smoothing over a RAGGED batch of series, bit-identical per
    row to smooth_whit_mtx on each series alone.

    ``flat`` is the row-major concatenation of the series; ``offsets`` are
    row starts; rows must be sorted by length DESCENDING. The sequential
    time recurrences run once over step index i with the active rows as a
    shrinking prefix (gather/scatter on the flat array), so cost is
    O(total points) with ~6 numpy calls per step instead of per series.
    When at most 32 rows remain active (a few long series' tails, or
    the handful of chunk windows of a giant conversation), the loop
    switches to plain-python float math per row — same IEEE ops, cheaper
    than a numpy step over that few rows.

    Series shorter than 4 points pass through unchanged (suffix of the
    sorted batch)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    out = flat.astype(np.float64, copy=True)
    b4 = int(np.searchsorted(-lengths, -4, side="right"))  # rows with T >= 4
    if b4 == 0:
        return out
    max_t = int(lengths[0])
    d, c, e = _whit_shared(max_t, lamb)
    lens4 = lengths[:b4]
    offs4 = offsets[:b4]
    z = out  # in-place

    # active-count per step: rows with T >= min_len (sorted descending)
    def k_at(min_len: int) -> int:
        return int(np.searchsorted(-lens4, -min_len, side="right"))

    # Steps deeper than the (CUTOFF+1)-th longest row are walked by at
    # most CUTOFF rows; handle those in plain-python float math (identical
    # IEEE ops) and vectorize the rest. A vectorized step costs ~10 us
    # whatever its width, a python point ~0.25 us per pass, so python wins
    # up to a few dozen rows: on 11,648-slot chunk windows, 8 rows took
    # 0.32 s vectorized (cutoff 4) against 0.04 s in python, and 64 rows
    # 0.23 s vectorized against 0.37 s in python (4-core x86 host).
    CUTOFF = 32
    i_star = int(lens4[CUTOFF]) - 3 if b4 > CUTOFF else 1
    n_long = k_at(i_star + 3 + 1)  # rows with interior beyond i_star

    # ---- forward: z[0]=x[0]; z[1]=x[1]-c[0]z[0];
    # interior z[i] = x[i] - c[i-1] z[i-1] - e[i-2] z[i-2] for i in [2, T-3]
    idx1 = offs4 + 1
    z[idx1] = z[idx1] - c[0] * z[idx1 - 1]
    for i in range(2, min(i_star, max_t - 3) + 1):
        k = k_at(i + 3)
        if k == 0:
            break
        idx = offs4[:k] + i
        z[idx] = z[idx] - c[i - 1] * z[idx - 1] - e[i - 2] * z[idx - 2]
    if n_long:
        cl = c.tolist()
        el = e.tolist()
        for r in range(n_long):
            off = int(offs4[r])
            tl = int(lens4[r])
            zl = z[off : off + tl].tolist()
            for j in range(max(2, i_star + 1), tl - 2):
                zl[j] = zl[j] - cl[j - 1] * zl[j - 1] - el[j - 2] * zl[j - 2]
            z[off : off + tl] = zl

    # ---- per-length boundary positions T-2, T-1 (vectorized per batch)
    t3 = lens4 - 3
    t4 = lens4 - 4
    dB1 = 1.0 + 5.0 * lamb - c[t3] * c[t3] * d[t3] - e[t4] * e[t4] * d[t4]
    cB = (-2.0 * lamb - d[t3] * c[t3] * e[t3]) / dB1
    dB2 = 1.0 + lamb - cB * cB * dB1 - e[t3] * e[t3] * d[t3]
    p2 = offs4 + lens4 - 2
    p1 = offs4 + lens4 - 1
    z[p2] = z[p2] - c[t3] * z[p2 - 1] - e[t4] * z[p2 - 2]
    z[p1] = (z[p1] - cB * z[p2] - e[t3] * z[p2 - 1]) / dB2
    # ---- backward: seed position T-2, then i = T-3 .. 0
    z[p2] = z[p2] / dB1 - cB * z[p1]
    if n_long:
        dl = d.tolist()
        cl = c.tolist()
        el = e.tolist()
        for r in range(n_long):
            off = int(offs4[r])
            tl = int(lens4[r])
            zl = z[off : off + tl].tolist()
            for j in range(tl - 3, i_star, -1):
                zl[j] = zl[j] / dl[j] - cl[j] * zl[j + 1] - el[j] * zl[j + 2]
            z[off : off + tl] = zl
    for i in range(min(i_star, max_t - 3), -1, -1):
        k = k_at(i + 3)
        if k == 0:
            continue
        idx = offs4[:k] + i
        z[idx] = z[idx] / d[i] - c[i] * z[idx + 1] - e[i] * z[idx + 2]
    return out


# ---------------------------------------------------------------------------
# Gap fill: linear interior + edge fill (backfill leading, LOCF trailing)
# ---------------------------------------------------------------------------


def linear_interp_mtx(data: np.ndarray) -> np.ndarray:
    """Fill NaN runs per row: interior NaNs linearly interpolated, leading
    NaNs back-filled from the first valid value, trailing NaNs carried
    forward; all-NaN rows stay NaN.

    Same NULL taxonomy as /root/reference/src/linear_interp.cpp:25-73
    (leading :29-38, trailing :47-54, interior :56-71, all-NA :35).
    ``np.interp`` on integer positions gives exactly these semantics
    (endpoint clamping = backfill/LOCF).
    """
    out = data.copy()
    n_series, n_time = data.shape
    idx = np.arange(n_time)
    nan_mask = np.isnan(data)
    rows = np.where(nan_mask.any(axis=1) & ~nan_mask.all(axis=1))[0]
    for r in rows:
        valid = ~nan_mask[r]
        out[r] = np.interp(idx, idx[valid], data[r, valid])
    return out


# ---------------------------------------------------------------------------
# Temporal reduce kernels (rowwise over series x time matrices)
# Mirrors /root/reference/src/reduce_fns.cpp
# ---------------------------------------------------------------------------


def temp_max(mtx: np.ndarray) -> np.ndarray:
    """reduce_fns.cpp:12-14 (arma::max dim 1)."""
    return np.max(mtx, axis=1)


def temp_min(mtx: np.ndarray) -> np.ndarray:
    """reduce_fns.cpp:17-19."""
    return np.min(mtx, axis=1)


def temp_mean(mtx: np.ndarray) -> np.ndarray:
    """reduce_fns.cpp:22-24."""
    return np.mean(mtx, axis=1)


def temp_median(mtx: np.ndarray) -> np.ndarray:
    """reduce_fns.cpp:27-29 (arma::median: midpoint of the two central
    order statistics for even n)."""
    return np.median(mtx, axis=1)


def temp_std(mtx: np.ndarray) -> np.ndarray:
    """reduce_fns.cpp:32-34 — arma::stddev norm_type 0 = sample (n-1)."""
    return np.std(mtx, axis=1, ddof=1)


def dtw_windows(wins: np.ndarray, pattern: np.ndarray) -> np.ndarray:
    """Symmetric-2 DTW distance of many equal-length windows vs one
    pattern (reference /root/reference/src/dtw.cpp:73-105: Giorgino 2009
    step pattern `d[i][j] = min(d[i-1][j-1] + 2c, d[i][j-1] + c,
    d[i-1][j] + c)`), univariate — the reference's p-norm over a 1-band
    sample reduces to |a - b| for every p (src/dtw.cpp:36-48 with one
    column), so no pow/root enters the DP and the arithmetic is a fixed
    sequence of +, 2*, min — bit-deterministic and SQL-reproducible.

    Vectorized across windows: the DP loop runs w*m cell steps, each a
    (W,)-wide numpy op — one Python-level iteration per CELL, not per
    window, mirroring how the smoothers batch conversations."""
    wins = np.asarray(wins, dtype=np.float64)
    pattern = np.asarray(pattern, dtype=np.float64)
    n_w, w = wins.shape
    m = len(pattern)
    # cost[:, i, j] = |wins[:, i] - pattern[j]|
    cost = np.abs(wins[:, :, None] - pattern[None, None, :])
    d = np.empty((n_w, w, m), dtype=np.float64)
    d[:, 0, 0] = cost[:, 0, 0]
    for i in range(1, w):
        d[:, i, 0] = d[:, i - 1, 0] + cost[:, i, 0]
    for j in range(1, m):
        d[:, 0, j] = d[:, 0, j - 1] + cost[:, 0, j]
    for i in range(1, w):
        for j in range(1, m):
            c = cost[:, i, j]
            d[:, i, j] = np.minimum(
                d[:, i - 1, j - 1] + 2.0 * c,
                np.minimum(d[:, i, j - 1] + c, d[:, i - 1, j] + c),
            )
    return d[:, w - 1, m - 1]
