"""Grid/fill/smooth/rollup/pack core of the tier math.

Two families over the same semantics: the per-conversation functions
(``scatter_grid``, ``band_pipeline``, ``observed_to_grid``,
``rollup_conv``, ``pack_conv``) are the single-node oracle's reference
path; the ``*_flat`` functions run many conversations per call and are
what the Spark fused kernel executes (operators.fused). Tests byte-match
the two.

All inputs are OBSERVED 1-minute slot metrics as exact int64 arrays (turn
counts, per-role token sums, assistant-text length sums) — integers
aggregate order-independently, so Spark's built-in partial aggregation
produces bit-identical inputs to the oracle's bincounts. Every float in
the engine is then derived here, in one canonical order, by row-wise
kernels (no BLAS batching variance).

Semantics mirrored from the reference (citations in sits_spark.kernels and
sits_spark.oracle docstrings).
"""

from __future__ import annotations

import numpy as np

from . import codec, kernels

SG_ORDER, SG_LENGTH = 3, 5
WHIT_LAMBDA = 0.5
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}

# --- chunked-smoothing semantics (SURVEY.md §7 hard part 2) ---------------
# A conversation's minute grid is smoothed in fixed EPOCH-ALIGNED chunks of
# CHUNK_SLOTS minutes with CHUNK_OVERLAP slots of context on each side,
# cropped after smoothing — the reference's chunk+overlap+crop pattern
# (/root/reference/R/api_chunks.R:44-148) applied along time instead of
# space. Alignment to epoch days (CHUNK_SLOTS % 1440 == 0) means no 1h/1d
# rollup window ever crosses a chunk, so aggregation is chunk-local too.
# Consequences, identical in oracle and engine (shared code -> byte-match):
#   - gap fill is EXACT (linear between global neighbor anchors);
#   - Savitzky-Golay is BIT-EXACT vs unchunked (FIR of radius 2 << overlap);
#   - Whittaker is chunk-local: results differ from the unchunked solve
#     near chunk boundaries by ~1e-9 relative at overlap 64 (asserted in
#     tests/test_chunked.py) — the documented price of bounding per-task
#     state for arbitrarily long conversations.
# Grids that do not cross a chunk boundary smooth unchunked (identical
# result: a single segment's extended window is the whole grid).
CHUNK_SLOTS = 8 * 1440  # 8 epoch-aligned days of minutes
CHUNK_OVERLAP = 64

GRID_COLS = [
    "slot_start_s",
    "present",
    "n_turns",
    "tokens_user",
    "tokens_assistant",
    "tokens_tool",
    "tool_calls",
    "alen",
    "fill_flag",
    "alen_filled",
    "alen_sg",
    "alen_whit",
]

ROLLUP_COLS = [
    "window_start_s",
    "n_slots",
    "n_turns",
    "tokens_user",
    "tokens_assistant",
    "tokens_tool",
    "tool_calls",
    "turn_rate",
    "tool_call_rate",
    "alen_mean",
    "alen_min",
    "alen_max",
    "alen_median",
    "alen_std",
]

PACK_COLS = ["window_start_s", "n", "first_ts", "first_val", "ts_d2", "vals_gorilla"]


def scatter_grid(
    slot_s: np.ndarray,
    n_turns: np.ndarray,
    tokens_user: np.ndarray,
    tokens_assistant: np.ndarray,
    tokens_tool: np.ndarray,
    tool_calls: np.ndarray,
    alen_sum: np.ndarray,
    alen_n: np.ndarray,
) -> dict[str, np.ndarray]:
    """Expand observed (sparse) 1-minute slots of ONE conv into the full
    regular grid (gap slots materialized) with integer metrics and the raw
    ``alen`` band (NULL where no assistant turn). ``slot_s`` must be sorted
    ascending; all arrays are int64 and positionally aligned."""
    lo, hi = int(slot_s[0]), int(slot_s[-1])
    grid = np.arange(lo, hi + 60, 60, dtype=np.int64)
    t = len(grid)
    pos = (slot_s - lo) // 60

    def scatter(vals: np.ndarray) -> np.ndarray:
        out = np.zeros(t, dtype=np.int64)
        out[pos] = vals
        return out

    g_turns = scatter(n_turns)
    g_alen_sum = scatter(alen_sum)
    g_alen_n = scatter(alen_n)
    with np.errstate(invalid="ignore", divide="ignore"):
        alen = np.where(
            g_alen_n > 0, g_alen_sum.astype(np.float64) / g_alen_n, np.nan
        )
    return {
        "slot_start_s": grid,
        "present": g_turns > 0,
        "n_turns": g_turns,
        "tokens_user": scatter(tokens_user),
        "tokens_assistant": scatter(tokens_assistant),
        "tokens_tool": scatter(tokens_tool),
        "tool_calls": scatter(tool_calls),
        "alen": alen,
    }


def fill_flags_mtx(alen: np.ndarray) -> np.ndarray:
    """Fill-flag taxonomy for a (B, T) band matrix: obs / linear /
    locf_lead / locf_trail / empty (FIXTURES.md §2, mirroring the NULL
    cases of /root/reference/src/linear_interp.cpp:25-73)."""
    b, t = alen.shape
    obs = ~np.isnan(alen)
    flag = np.where(obs, "obs", "linear").astype(object)
    any_obs = obs.any(axis=1)
    first = np.argmax(obs, axis=1)
    last = t - 1 - np.argmax(obs[:, ::-1], axis=1)
    col = np.arange(t)[None, :]
    flag[(col < first[:, None]) & any_obs[:, None]] = "locf_lead"
    flag[(col > last[:, None]) & any_obs[:, None]] = "locf_trail"
    flag[~any_obs, :] = "empty"
    return flag


def chunk_bounds(lo_idx: int, t: int) -> np.ndarray:
    """Relative cut positions of the epoch-aligned chunk grid inside a
    conv grid starting at absolute slot index ``lo_idx`` with ``t`` slots:
    [0, cuts..., t]."""
    first = (lo_idx // CHUNK_SLOTS + 1) * CHUNK_SLOTS
    cuts = np.arange(first, lo_idx + t, CHUNK_SLOTS, dtype=np.int64) - lo_idx
    return np.concatenate([[0], cuts, [t]])


def is_crossing(lo_idx, t):
    """True when a grid [lo_idx, lo_idx + t) crosses a chunk boundary
    (elementwise over arrays)."""
    return (lo_idx // CHUNK_SLOTS) != ((lo_idx + t - 1) // CHUNK_SLOTS)


def smooth_conv(filled: np.ndarray, lo_idx: int) -> tuple[np.ndarray, np.ndarray]:
    """SG + Whittaker for ONE conv's gap-filled band under the chunked
    semantics above. ``lo_idx`` = absolute slot index of the grid start."""
    t = len(filled)
    mtx = filled.reshape(1, -1)
    if not is_crossing(lo_idx, t):
        return (
            kernels.smooth_sg_mtx(mtx, order=SG_ORDER, length=SG_LENGTH)[0],
            kernels.smooth_whit_mtx(mtx, WHIT_LAMBDA)[0],
        )
    bounds = chunk_bounds(lo_idx, t)
    sg = np.empty(t)
    whit = np.empty(t)
    for i in range(len(bounds) - 1):
        a, b = int(bounds[i]), int(bounds[i + 1])
        ea, eb = max(0, a - CHUNK_OVERLAP), min(t, b + CHUNK_OVERLAP)
        ext = filled[ea:eb].reshape(1, -1)
        sg[a:b] = kernels.smooth_sg_mtx(ext, order=SG_ORDER, length=SG_LENGTH)[
            0, a - ea : (a - ea) + (b - a)
        ]
        whit[a:b] = kernels.smooth_whit_mtx(ext, WHIT_LAMBDA)[
            0, a - ea : (a - ea) + (b - a)
        ]
    return sg, whit


def concat_ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + n)`` over (starts, lengths)."""
    offs = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offs[1:])
    total = int(lengths.sum()) if len(lengths) else 0
    return np.repeat(starts - offs, lengths) + np.arange(total, dtype=np.int64)


def smooth_segments(
    filled: np.ndarray,
    seg_lo: np.ndarray,
    seg_hi: np.ndarray,
    crop_lo: np.ndarray,
    crop_hi: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """SG + Whittaker of EVERY segment of a batch in one pass, each
    segment bit-identical to smoothing it alone as a (1, T) row.

    Segment i is ``filled[seg_lo[i]:seg_hi[i]]`` — a whole short series,
    or one chunk's extended window (chunk + CHUNK_OVERLAP context); only
    ``[crop_lo[i], crop_hi[i])`` of it is kept. Segments are laid out
    longest first, so SG runs one row-wise call per distinct length (an
    equal-length run is a contiguous matrix) and Whittaker is one
    ``smooth_whit_ragged`` call over the whole batch. Returns (sg, whit):
    the crops concatenated in segment order."""
    if not len(seg_lo):
        return np.empty(0), np.empty(0)
    seg_len = (seg_hi - seg_lo).astype(np.int64)
    order = np.argsort(-seg_len, kind="stable")
    lens = seg_len[order]
    offs = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    rows = filled[concat_ranges(seg_lo[order], lens)]

    sg_rows = np.empty_like(rows)
    grp = np.append(np.flatnonzero(np.diff(lens)) + 1, len(lens))
    lo = 0
    for hi in grp:
        t, a, b = int(lens[lo]), int(offs[lo]), int(offs[hi - 1] + lens[lo])
        sg_rows[a:b] = kernels.smooth_sg_mtx(
            rows[a:b].reshape(hi - lo, t), order=SG_ORDER, length=SG_LENGTH
        ).ravel()
        lo = hi
    whit_rows = kernels.smooth_whit_ragged(rows, offs, lens, WHIT_LAMBDA)

    # row start of each segment (in input order) inside the sorted layout
    row_of = np.empty_like(offs)
    row_of[order] = offs
    keep = concat_ranges(row_of + (crop_lo - seg_lo), (crop_hi - crop_lo).astype(np.int64))
    return sg_rows[keep], whit_rows[keep]


def band_pipeline(
    alen: np.ndarray, lo_idx: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Gap-fill + Savitzky-Golay + Whittaker over a (1, T) band matrix of
    ONE conversation starting at absolute slot index ``lo_idx`` (the
    oracle's single-conv path), under the chunked-smoothing semantics."""
    filled = kernels.linear_interp_mtx(alen)
    sg, whit = smooth_conv(filled[0], int(lo_idx))
    return filled, sg.reshape(1, -1), whit.reshape(1, -1)


_FLAG_NAMES = np.array(["obs", "linear", "locf_lead", "locf_trail", "empty"], dtype=object)


def scatter_grid_flat(
    slot_s: np.ndarray,
    obs_bounds: np.ndarray,
    metrics: dict[str, np.ndarray],
) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """Expand MANY convs' observed (sparse) slots into their concatenated
    dense minute grids in one vectorized pass — value-identical to per-conv
    ``scatter_grid`` (integer scatters into disjoint ranges; the ``alen``
    division is elementwise).

    Returns (flat grid columns, grid conv-bounds)."""
    n_convs = len(obs_bounds) - 1
    first = slot_s[obs_bounds[:-1]]
    last = slot_s[obs_bounds[1:] - 1]
    t_len = (last - first) // 60 + 1
    gb = np.zeros(n_convs + 1, dtype=np.int64)
    np.cumsum(t_len, out=gb[1:])
    total = int(gb[-1])
    conv_of_obs = np.repeat(np.arange(n_convs), np.diff(obs_bounds))
    pos = gb[:-1][conv_of_obs] + (slot_s - first[conv_of_obs]) // 60
    # dense slot_start axis: per conv, first + 60*arange(T)
    in_grid = np.arange(total, dtype=np.int64) - np.repeat(gb[:-1], t_len)
    grid = {"slot_start_s": np.repeat(first, t_len) + 60 * in_grid}

    def scatter(vals: np.ndarray) -> np.ndarray:
        out = np.zeros(total, dtype=np.int64)
        out[pos] = vals
        return out

    g_alen_sum = scatter(metrics["alen_sum"])
    g_alen_n = scatter(metrics["alen_n"])
    for k in _SUM_COLS:
        grid[k] = scatter(metrics[k])
    grid["present"] = grid["n_turns"] > 0
    with np.errstate(invalid="ignore", divide="ignore"):
        grid["alen"] = np.where(
            g_alen_n > 0, g_alen_sum.astype(np.float64) / g_alen_n, np.nan
        )
    return grid, gb


def band_pipeline_flat(
    alen: np.ndarray, gb: np.ndarray, lo_idxs: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Gap-fill + flags + SG + Whittaker over MANY convs' concatenated
    band, bit-identical per conv to band_pipeline on (1, T).

    Flags and interp run vectorized over the flat array (per-conv edge
    positions from reduceat). Every conv is one smoothing segment, or one
    per chunk when it crosses a chunk boundary (``lo_idxs`` = absolute
    start slot index per conv), and ``smooth_segments`` smooths all of
    them in one batched pass. Returns flat (filled, sg, whit, flags)."""
    n = len(alen)
    n_convs = len(gb) - 1
    lengths = np.diff(gb)
    obs = ~np.isnan(alen)
    idx = np.arange(n, dtype=np.int64)
    big = np.where(obs, idx, n)
    small = np.where(obs, idx, -1)
    first_v = np.minimum.reduceat(big, gb[:-1]) if n else np.empty(0, np.int64)
    last_v = np.maximum.reduceat(small, gb[:-1]) if n else np.empty(0, np.int64)
    any_obs = first_v < n

    # flags (same taxonomy as fill_flags_mtx)
    codes = np.ones(n, dtype=np.int8)  # linear
    codes[obs] = 0
    fv = np.repeat(np.where(any_obs, first_v, 0), lengths)
    lv = np.repeat(np.where(any_obs, last_v, n), lengths)
    has = np.repeat(any_obs, lengths)
    codes[(idx < fv) & has & ~obs] = 2  # locf_lead
    codes[(idx > lv) & has & ~obs] = 3  # locf_trail
    codes[~has] = 4  # empty
    flags = _FLAG_NAMES[codes]

    # gap fill: per conv np.interp only where needed (C-speed inner loop)
    filled = alen.copy()
    conv_all = np.flatnonzero(any_obs)
    need = conv_all[
        np.add.reduceat(obs, gb[:-1])[conv_all] < lengths[conv_all]
    ]
    for c in need:
        lo, hi = gb[c], gb[c + 1]
        seg = alen[lo:hi]
        valid = obs[lo:hi]
        x = np.arange(hi - lo, dtype=np.float64)
        filled[lo:hi] = np.interp(x, x[valid], seg[valid])

    # smoothing: a conv inside one chunk is one segment, a conv crossing a
    # chunk boundary one segment per chunk (its extended window, cropped)
    if lo_idxs is None:
        lo_idxs = np.zeros(n_convs, dtype=np.int64)
    crossing = is_crossing(lo_idxs, lengths)
    segs = [np.stack([gb[:-1], gb[1:], gb[:-1], gb[1:]])[:, ~crossing]]
    for c in np.flatnonzero(crossing):
        t = int(lengths[c])
        cb = chunk_bounds(int(lo_idxs[c]), t)
        a, b = cb[:-1], cb[1:]
        segs.append(gb[c] + np.stack([
            np.maximum(0, a - CHUNK_OVERLAP), np.minimum(t, b + CHUNK_OVERLAP), a, b,
        ]))
    seg = np.concatenate(segs, axis=1)
    seg = seg[:, np.argsort(seg[2], kind="stable")]  # crops tile the batch
    sg, whit = smooth_segments(filled, *seg)
    return filled, sg, whit, flags


def observed_to_grid(
    slot_s: np.ndarray,
    n_turns: np.ndarray,
    tokens_user: np.ndarray,
    tokens_assistant: np.ndarray,
    tokens_tool: np.ndarray,
    tool_calls: np.ndarray,
    alen_sum: np.ndarray,
    alen_n: np.ndarray,
) -> dict[str, np.ndarray]:
    """Full per-conv grid: scatter + fill + flags + smooth (the oracle's
    single-conv path; the engine runs band_pipeline_flat per batch)."""
    grid = scatter_grid(
        slot_s, n_turns, tokens_user, tokens_assistant, tokens_tool,
        tool_calls, alen_sum, alen_n,
    )
    mtx = grid["alen"].reshape(1, -1)
    filled, sg, whit = band_pipeline(mtx, int(grid["slot_start_s"][0]) // 60)
    grid["fill_flag"] = fill_flags_mtx(mtx)[0]
    grid["alen_filled"] = filled[0]
    grid["alen_sg"] = sg[0]
    grid["alen_whit"] = whit[0]
    return grid


def _window_stats_block(seg: np.ndarray) -> tuple[np.ndarray, ...]:
    """(mean, min, max, median, std) row-wise for equal-length windows
    stacked as (nw, W). NaN windows (all-empty convs) yield NaN; W == 1
    yields NaN std (sample std undefined)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = kernels.temp_mean(seg)
        mn = kernels.temp_min(seg)
        mx = kernels.temp_max(seg)
        med = kernels.temp_median(seg)
        if seg.shape[1] > 1:
            std = kernels.temp_std(seg)
        else:
            std = np.full(seg.shape[0], np.nan)
    return mean, mn, mx, med, std


def rollup_conv(grid: dict[str, np.ndarray], tier_seconds: int) -> dict[str, np.ndarray]:
    """Aggregate ONE conv's full 1m grid into tier windows (canonical slot
    order within each window). Integer metrics are exact sums; float stats
    come from the temporal-reduce kernels
    (/root/reference/src/reduce_fns.cpp:12-92 subset).

    The minute grid is dense and regular, so every window except the first
    and last is exactly ``tier_seconds/60`` slots — the interior windows
    reshape into one (nw, W) matrix and the stat kernels vectorize across
    windows (bit-identical per row to one-window calls)."""
    slots = grid["slot_start_s"]
    win = (slots // tier_seconds) * tier_seconds
    w_starts, w_first = np.unique(win, return_index=True)
    bounds = np.append(w_first, len(slots))
    nw = len(w_starts)

    def segsum(vals: np.ndarray) -> np.ndarray:
        return np.add.reduceat(vals, w_first)

    n_slots = np.diff(bounds).astype(np.int64)
    n_turns = segsum(grid["n_turns"])
    tool_calls = segsum(grid["tool_calls"])
    out = {
        "window_start_s": w_starts,
        "n_slots": n_slots,
        "n_turns": n_turns,
        "tokens_user": segsum(grid["tokens_user"]),
        "tokens_assistant": segsum(grid["tokens_assistant"]),
        "tokens_tool": segsum(grid["tokens_tool"]),
        "tool_calls": tool_calls,
        "turn_rate": n_turns.astype(np.float64) / n_slots,
        "tool_call_rate": tool_calls.astype(np.float64) / n_slots,
    }
    vals = grid["alen_whit"]
    W = tier_seconds // 60
    stats = [np.empty(nw) for _ in range(5)]

    def fill(i0: int, i1: int, block: np.ndarray) -> None:
        res = _window_stats_block(block)
        for s, r in zip(stats, res):
            s[i0:i1] = r

    # first (possibly partial) window
    fill(0, 1, vals[: bounds[1]].reshape(1, -1))
    if nw > 1:
        # interior full windows, vectorized across windows
        n_mid = nw - 2
        if n_mid > 0:
            mid = vals[bounds[1] : bounds[1] + n_mid * W].reshape(n_mid, W)
            fill(1, nw - 1, mid)
        # last (possibly partial) window
        fill(nw - 1, nw, vals[bounds[nw - 1] :].reshape(1, -1))
    out.update(
        {
            "alen_mean": stats[0],
            "alen_min": stats[1],
            "alen_max": stats[2],
            "alen_median": stats[3],
            "alen_std": stats[4],
        }
    )
    return out


_SUM_COLS = ("n_turns", "tokens_user", "tokens_assistant", "tokens_tool", "tool_calls")


def rollup_flat(
    flat: dict[str, np.ndarray],
    conv_bounds: np.ndarray,
    tier_seconds: int,
) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """Windowed rollup over MANY conversations' concatenated dense 1m
    grids in one vectorized pass — bit-identical per window to
    ``rollup_conv`` on each conv alone (integer reduceat segments are the
    same; the float stat kernels are row-wise, so stacking windows of
    equal width across convs cannot change any row's result).

    ``flat`` holds the conv-major concatenation of each grid column
    (``slot_start_s``, the integer metrics, ``alen_whit``);
    ``conv_bounds`` are the per-conv boundaries into it. Returns
    (columns keyed by ROLLUP_COLS, conv index of each window row).
    """
    slot_s = flat["slot_start_s"]
    vals = flat["alen_whit"]
    n = len(slot_s)
    win = (slot_s // tier_seconds) * tier_seconds
    is_b = np.zeros(n, dtype=bool)
    is_b[0] = True
    is_b[1:] = win[1:] != win[:-1]
    is_b[conv_bounds[1:-1]] = True  # never merge windows across convs
    w_first = np.flatnonzero(is_b)
    bounds = np.append(w_first, n)
    widths = np.diff(bounds)
    conv_of_w = np.searchsorted(conv_bounds, w_first, side="right") - 1

    n_slots = widths.astype(np.int64)
    out: dict[str, np.ndarray] = {
        "window_start_s": win[w_first],
        "n_slots": n_slots,
    }
    for k in _SUM_COLS:
        out[k] = np.add.reduceat(flat[k], w_first)
    out["turn_rate"] = out["n_turns"].astype(np.float64) / n_slots
    out["tool_call_rate"] = out["tool_calls"].astype(np.float64) / n_slots

    # float stats: group windows by width, one row-wise kernel call each
    nw = len(w_first)
    stats = [np.empty(nw) for _ in range(5)]
    order = np.argsort(widths, kind="stable")
    sw = widths[order]
    grp = np.append(np.flatnonzero(np.diff(sw)) + 1, len(sw))
    lo = 0
    for hi in grp:
        idxs = order[lo:hi]
        u = int(sw[lo])
        lo = hi
        mtx = vals[w_first[idxs][:, None] + np.arange(u)]
        res = _window_stats_block(mtx)
        for s, r in zip(stats, res):
            s[idxs] = r
    out["alen_mean"], out["alen_min"], out["alen_max"] = stats[0], stats[1], stats[2]
    out["alen_median"], out["alen_std"] = stats[3], stats[4]
    return out, conv_of_w


def pack_flat(
    flat: dict[str, np.ndarray],
    conv_bounds: np.ndarray,
    tier_seconds: int = 3600,
) -> tuple[dict[str, object], np.ndarray]:
    """Gorilla-pack MANY convs' smoothed bands in one vectorized pass —
    blobs bit-identical to per-conv ``pack_conv`` (block encoding is
    per-window independent). Returns (pack columns, window's conv index)."""
    slot_s = flat["slot_start_s"]
    vals = flat["alen_whit"].astype(np.float64, copy=False)
    n = len(slot_s)
    win = (slot_s // tier_seconds) * tier_seconds
    is_b = np.zeros(n, dtype=bool)
    is_b[0] = True
    is_b[1:] = win[1:] != win[:-1]
    is_b[conv_bounds[1:-1]] = True
    w_first = np.flatnonzero(is_b)
    bounds = np.append(w_first, n)
    conv_of_w = np.searchsorted(conv_bounds, w_first, side="right") - 1
    cols = {
        "window_start_s": win[w_first],
        "n": np.diff(bounds).astype(np.int32),
        "first_ts": slot_s[w_first],
        "first_val": vals[w_first],
        "ts_d2": codec.encode_ts_d2_blocks(slot_s, bounds),
        "vals_gorilla": codec.encode_xor_blocks(vals, bounds),
    }
    return cols, conv_of_w


def pack_conv(grid: dict[str, np.ndarray], tier_seconds: int = 3600) -> dict[str, object]:
    """Gorilla-pack ONE conv's smoothed 1m band per tier window. Returns
    columns {window_start_s, n, first_ts, first_val, ts_d2, vals_gorilla}
    (blob columns as lists of bytes). Every window of the conv encodes in
    one vectorized block-codec pass (codec.encode_*_blocks)."""
    slots = grid["slot_start_s"]
    win = (slots // tier_seconds) * tier_seconds
    w_starts, w_first = np.unique(win, return_index=True)
    bounds = np.append(w_first, len(slots))
    vals = grid["alen_whit"].astype(np.float64)
    return {
        "window_start_s": w_starts,
        "n": np.diff(bounds).astype(np.int32),
        "first_ts": slots[w_first],
        "first_val": vals[w_first],
        "ts_d2": codec.encode_ts_d2_blocks(slots, bounds),
        "vals_gorilla": codec.encode_xor_blocks(vals, bounds),
    }
