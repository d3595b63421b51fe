"""Cross-task chunk splitting: one conversation's grid distributed over
MANY tasks, byte-identical to the single-task path.

The fused kernel keeps an ordinary conversation whole inside one task
(simple, no halo). At 10^12-turn scale a single pathological conversation
spanning years would pin one executor core and hold its whole grid in one
task's memory. This module removes that bound for the conversations the
pipeline tags as giants: their observed slots are keyed by
(conv_id, chunk) — the SAME epoch-aligned chunk grid the smoothing
semantics use (engine_core.CHUNK_SLOTS) — so each chunk of a hot
conversation is an independent unit of work, and the per-task state is
one chunk's grid regardless of conversation length.

Giants ride the fused writer's one stream (``keyed_stream``): every row
carries a ``chunk`` key and a ``marker``, a whole-conversation row has
chunk 0, and only giant rows fan out. Exactness is preserved by shipping
each (conv, chunk) group everything the single-task math would see from
outside the chunk (the reference's chunk+overlap halo pattern,
sits R/api_chunks.R:44-148):

- HALO rows: observed slots within CHUNK_OVERLAP of a boundary are
  duplicated into the neighboring chunk (smoother warm-up context) by the
  same ``explode`` that gives a giant row its own chunk.
- ANCHOR rows: one per (conv, chunk) — the conversation's global extent,
  the global first/last band observation (flag taxonomy), and the nearest
  band observation OUTSIDE the chunk's extended window on each side (so
  linear gap-fill across chunk boundaries interpolates between exactly
  the same endpoints as the global fill), in one nullable ``anchor``
  struct that is NULL on every other row. ``_anchor_rows`` computes them
  with window functions over a per-(conv, chunk) summary of the giants
  only that covers each conversation's FULL chunk range (gap chunks
  included via sequence()). The pipeline runs it once, in the pre-scan
  that finds the giants, and stores the rows with the giant list
  (``RollupPipeline._giant_convs``); ``keyed_stream`` unions the rows it
  is given into the stream — no join against the fat stream, and no
  window function in the write plan. ``fused_write_chunked`` still
  computes them inside its plan.

The kernel (``chunk_grids``) scatters, gap-fills and flags each chunk's
extended window (``_process_group``), then hands the windows of a batch
of groups to ``engine_core.smooth_segments`` — the one batched smoother
the flat kernel also uses — which smooths them and crops each to its
chunk; this module calls no smoother itself. The fused kernel hands the
cropped chunk grids to its tier emitter (``fused._emit_tiers``), so a
split conversation's tiers are BYTE-identical to the single-node oracle,
whose per-conversation ``smooth_conv`` is an independent solver (asserted
in tests/test_chunked.py and tests/test_spark_pipeline.py). Scale math:
a conversation spanning Y years is ~Y*46 chunks of <= 11520 slots each,
each a few hundred KB of state.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import engine_core
from .regularize import _OBS_COLS

CHUNK_SEC = engine_core.CHUNK_SLOTS * 60
OV_SEC = engine_core.CHUNK_OVERLAP * 60

# row markers of the stream; an anchor sorts first in its (conv, chunk)
ANCHOR, CHUNK_ROW, WHOLE_ROW = 0, 1, 2
ANCHOR_TYPE = (
    "struct<conv_lo:bigint,conv_hi:bigint,g_first_alen:bigint,"
    "g_last_alen:bigint,prev_slot:bigint,prev_val:double,"
    "next_slot:bigint,next_val:double>"
)
# the anchors as ``_anchor_rows`` computes them and the pipeline stores them
ANCHOR_SCHEMA = f"conv_id string, chunk bigint, anchor {ANCHOR_TYPE}"


def _chunk_of(col):
    return F.floor(col / F.lit(CHUNK_SEC)).cast("long")


def _anchor_rows(obs: DataFrame) -> DataFrame:
    """One ``ANCHOR_SCHEMA`` row per (conv, chunk) of every conversation
    in ``obs``, over the conv's FULL chunk range, with the outside-context
    scalars the chunk kernel needs."""
    has = F.col("alen_n") > 0
    val = F.col("alen_sum").cast("double") / F.col("alen_n")
    pt = F.when(has, F.struct(F.col("slot_s").alias("s"), val.alias("v")))
    ck = _chunk_of(F.col("slot_s"))
    # per existing chunk: extent + first/last band points, plus the
    # variants excluding the OV margin (the margin is halo'd to neighbors,
    # so the neighbor's outside-anchor must skip it)
    summ = obs.groupBy("conv_id", ck.alias("chunk")).agg(
        F.min("slot_s").alias("c_lo"),
        F.max("slot_s").alias("c_hi"),
        F.min(pt).alias("first_pt"),
        F.max(pt).alias("last_pt"),
        F.min(
            F.when(
                has & (F.col("slot_s") >= ck * CHUNK_SEC + OV_SEC),
                F.struct(F.col("slot_s").alias("s"), val.alias("v")),
            )
        ).alias("first_pt_in"),
        F.max(
            F.when(
                has & (F.col("slot_s") < (ck + 1) * CHUNK_SEC - OV_SEC),
                F.struct(F.col("slot_s").alias("s"), val.alias("v")),
            )
        ).alias("last_pt_in"),
    )
    # conv-wide scalars, then densify to the conv's full chunk range: each
    # observed chunk also emits the silent chunks up to the next observed
    # one, which carry no points of their own
    conv = Window.partitionBy("conv_id")
    nxt = F.lead("chunk", 1).over(conv.orderBy("chunk")) - 1
    spans = summ.select(
        "*",
        F.min("c_lo").over(conv).alias("conv_lo"),
        F.max("c_hi").over(conv).alias("conv_hi"),
        F.min("first_pt").over(conv).alias("g_first"),
        F.max("last_pt").over(conv).alias("g_last"),
        F.coalesce(nxt, F.col("chunk")).alias("k1"),
    )
    own = F.col("k") == F.col("chunk")
    dense = spans.select(
        "*", F.explode(F.sequence("chunk", "k1")).alias("k")
    ).select(
        "conv_id",
        F.col("k").alias("chunk"),
        "conv_lo",
        "conv_hi",
        "g_first",
        "g_last",
        *[F.when(own, F.col(c)).alias(c)
          for c in ("first_pt", "last_pt", "first_pt_in", "last_pt_in")],
    )

    w = Window.partitionBy("conv_id").orderBy("chunk")
    w_le2 = w.rowsBetween(Window.unboundedPreceding, -2)
    w_ge2 = w.rowsBetween(2, Window.unboundedFollowing)
    # nearest band point strictly before this chunk's extended window:
    # the previous chunk's last point OUTSIDE its tail margin, else the
    # last point of any earlier chunk (entirely below ext_lo)
    prev_pt = F.coalesce(
        F.lag("last_pt_in", 1).over(w),
        F.last("last_pt", ignorenulls=True).over(w_le2),
    )
    next_pt = F.coalesce(
        F.lead("first_pt_in", 1).over(w),
        F.first("first_pt", ignorenulls=True).over(w_ge2),
    )
    return dense.select(
        "conv_id",
        "chunk",
        F.struct(
            "conv_lo",
            "conv_hi",
            F.col("g_first.s").alias("g_first_alen"),
            F.col("g_last.s").alias("g_last_alen"),
            prev_pt["s"].alias("prev_slot"),
            prev_pt["v"].alias("prev_val"),
            next_pt["s"].alias("next_slot"),
            next_pt["v"].alias("next_val"),
        ).alias("anchor"),
    )


def keyed_stream(
    obs: DataFrame, split: tuple[DataFrame, DataFrame] | None
) -> DataFrame:
    """Observed slots as (conv_id, chunk, marker, slot_s, measures, anchor)
    rows. ``split`` is None or the pair ``(ids, anchors)``: a one-column
    DataFrame of the DISTINCT conv_ids to split (a duplicate would
    duplicate rows) and their ``ANCHOR_SCHEMA`` rows (``_anchor_rows``),
    which must cover only conversations present in ``obs``: an anchor
    without its rows still emits a grid. A giant row is tagged by a
    broadcast left join and exploded into its own chunk plus halo copies,
    and each anchor becomes the first row of its (conv, chunk) group;
    every other row is one WHOLE_ROW of chunk 0 with a NULL anchor."""
    no_anchor = F.lit(None).cast(ANCHOR_TYPE).alias("anchor")
    if split is None:
        return obs.select(
            "conv_id", F.lit(0).cast("long").alias("chunk"),
            F.lit(WHOLE_ROW).alias("marker"), "slot_s", *_OBS_COLS, no_anchor,
        )
    giants, anchors = split
    tags = F.broadcast(giants.select("conv_id", F.lit(True).alias("giant")))
    giant = F.col("giant")  # NULL on every conversation not in ``giants``
    slot = F.col("slot_s")
    ck = _chunk_of(slot)
    own_and_halo = F.array_compact(
        F.array(
            ck,
            F.when(slot < ck * CHUNK_SEC + OV_SEC, ck - 1),
            F.when(slot >= (ck + 1) * CHUNK_SEC - OV_SEC, ck + 1),
        )
    )
    rows = obs.join(tags, "conv_id", "left").select(
        "conv_id",
        F.explode(
            F.when(giant, own_and_halo).otherwise(F.array(F.lit(0).cast("long")))
        ).alias("chunk"),
        F.when(giant, CHUNK_ROW).otherwise(WHOLE_ROW).alias("marker"),
        "slot_s",
        *_OBS_COLS,
        no_anchor,
    )
    return rows.unionByName(
        anchors.select(
            "conv_id",
            "chunk",
            F.lit(ANCHOR).alias("marker"),
            # 0, not NULL: a NULL here would turn the batch's int columns
            # into float64 on the Arrow -> numpy path (inexact above 2**53)
            *[F.lit(0).cast("long").alias(c) for c in ("slot_s", *_OBS_COLS)],
            "anchor",
        )
    )


def chunk_grids(tbl: dict, max_slots: int) -> Iterator[tuple]:
    """(slot_data, gb, conv_ids, buckets) — ``fused._emit_tiers``' input —
    for the (conv, chunk) groups of a batch of giant rows sorted by
    (conv_id, chunk, marker, slot_s), in lists of about ``max_slots`` grid
    slots, each list smoothed in one ``engine_core.smooth_segments`` call
    (``_concat``). The bound is in slots: a silent chunk expands one
    anchor row into a whole chunk of slots, so the output of a batch is
    bounded by slots, not by its input rows. A halo-only group (no anchor
    row) lies outside its conv's extent and emits nothing."""
    cid, chunk = tbl["conv_id"], tbl["chunk"]
    new = np.ones(len(cid), dtype=bool)
    new[1:] = (cid[1:] != cid[:-1]) | (chunk[1:] != chunk[:-1])
    bounds = np.append(np.flatnonzero(new), len(cid))
    groups: list[tuple[int, dict, int, int]] = []
    n = 0
    for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        if tbl["marker"][lo] != ANCHOR:
            continue
        grid, ca, cb = _process_group(tbl, lo, hi)
        groups.append((lo, grid, ca, cb))
        n += cb - ca
        if n >= max_slots:
            yield _concat(tbl, groups)
            groups, n = [], 0
    if groups:
        yield _concat(tbl, groups)


def _concat(tbl: dict, groups: list[tuple[int, dict, int, int]]) -> tuple:
    """A list of groups as ``_emit_tiers``' input: their extended windows
    smoothed in one ``engine_core.smooth_segments`` call, then every
    column cropped to the chunks' own slots."""
    los = np.array([lo for lo, _g, _a, _b in groups])
    ext_len = np.array([len(g["slot_start_s"]) for _lo, g, _a, _b in groups], dtype=np.int64)
    ca = np.array([a for _lo, _g, a, _b in groups], dtype=np.int64)
    cb = np.array([b for _lo, _g, _a, b in groups], dtype=np.int64)
    starts = np.zeros(len(groups), dtype=np.int64)
    np.cumsum(ext_len[:-1], out=starts[1:])
    ext = {k: np.concatenate([g[k] for _lo, g, _a, _b in groups]) for k in groups[0][1]}
    sg, whit = engine_core.smooth_segments(
        ext["alen_filled"], starts, starts + ext_len, starts + ca, starts + cb
    )
    keep = engine_core.concat_ranges(starts + ca, cb - ca)
    slot_data = {k: v[keep] for k, v in ext.items()}
    slot_data["alen_sg"], slot_data["alen_whit"] = sg, whit
    gb = np.zeros(len(groups) + 1, dtype=np.int64)
    np.cumsum(cb - ca, out=gb[1:])
    return slot_data, gb, tbl["conv_id"][los], tbl["bucket"][los].astype(np.int32)


def _process_group(tbl, lo: int, hi: int) -> tuple[dict, int, int]:
    """One (conv, chunk) group's extended window — scatter, gap-fill
    against the anchors and flags, unsmoothed — and the chunk's own
    [ca, cb) slot range inside it."""
    anchor = tbl["anchor"][lo]
    chunk = int(tbl["chunk"][lo])
    conv_lo, conv_hi = anchor["conv_lo"], anchor["conv_hi"]
    a = max(conv_lo, chunk * CHUNK_SEC)
    b = min(conv_hi, (chunk + 1) * CHUNK_SEC - 60)
    ext_lo = max(conv_lo, a - OV_SEC)
    ext_hi = min(conv_hi, b + OV_SEC)
    t_ext = (ext_hi - ext_lo) // 60 + 1

    # scatter ALL data rows (own + halo) that fall inside the ext window
    sl = slice(lo, hi)
    slot = tbl["slot_s"][sl]
    keep = (tbl["marker"][sl] == CHUNK_ROW) & (slot >= ext_lo) & (slot <= ext_hi)
    pos = (slot[keep] - ext_lo) // 60
    grid = {"slot_start_s": ext_lo + 60 * np.arange(t_ext, dtype=np.int64)}

    def scatter(col):
        out = np.zeros(t_ext, dtype=np.int64)
        out[pos] = col[keep]
        return out

    for c in engine_core._SUM_COLS:
        grid[c] = scatter(tbl[c][sl])
    grid["present"] = grid["n_turns"] > 0
    alen_sum = scatter(tbl["alen_sum"][sl])
    alen_n = scatter(tbl["alen_n"][sl])
    with np.errstate(invalid="ignore", divide="ignore"):
        alen = np.where(alen_n > 0, alen_sum.astype(np.float64) / alen_n, np.nan)
    grid["alen"] = alen

    # exact global gap-fill: interp over ext points + outside anchors
    obs_mask = alen_n > 0
    xs = np.flatnonzero(obs_mask).astype(np.float64)
    ys = alen[obs_mask]
    if anchor["prev_slot"] is not None:
        xs = np.concatenate([[(anchor["prev_slot"] - ext_lo) / 60.0], xs])
        ys = np.concatenate([[anchor["prev_val"]], ys])
    if anchor["next_slot"] is not None:
        xs = np.concatenate([xs, [(anchor["next_slot"] - ext_lo) / 60.0]])
        ys = np.concatenate([ys, [anchor["next_val"]]])
    if len(xs):
        grid["alen_filled"] = np.interp(np.arange(t_ext, dtype=np.float64), xs, ys)
    else:
        grid["alen_filled"] = np.full(t_ext, np.nan)  # band empty across the whole conv

    # flags from the conversation's GLOBAL first/last band observation
    flags = np.full(t_ext, "linear", dtype=object)
    flags[obs_mask] = "obs"
    if anchor["g_first_alen"] is None:
        flags[:] = "empty"
    else:
        slots_abs = grid["slot_start_s"]
        flags[(slots_abs < anchor["g_first_alen"]) & ~obs_mask] = "locf_lead"
        flags[(slots_abs > anchor["g_last_alen"]) & ~obs_mask] = "locf_trail"
    grid["fill_flag"] = flags
    return grid, (a - ext_lo) // 60, (b - ext_lo) // 60 + 1


def fused_write_chunked(
    obs: DataFrame,
    table_path: str,
    tiers: tuple[str, ...] = ("1h", "1d"),
    partitions: int | None = None,
    with_pack: bool = True,
    gen: str = "",
) -> DataFrame:
    """``fused.fused_write`` with EVERY conversation of ``obs`` split into
    (conv, chunk) units of work, its anchors computed inside the write
    plan. The pipeline splits only its giants in its one write, with the
    anchors its pre-scan stored; this entry point exists so perfbench's
    layer ladder can time the split path on the giant alone."""
    from . import fused

    return fused.fused_write(
        obs, table_path, tiers, partitions, with_pack=with_pack, gen=gen,
        split=(obs.select("conv_id").distinct(), _anchor_rows(obs)),
    )
