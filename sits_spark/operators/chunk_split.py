"""Cross-task chunk splitting: one conversation's grid distributed over
MANY tasks, byte-identical to the single-task path.

The default kernels keep a conversation whole inside one task (simple, no
halo). At 10^12-turn scale a single pathological conversation spanning
years would pin one executor core and hold its whole grid in one task's
memory. This operator removes that bound: observed slots are re-keyed by
(conv_id, chunk) — the SAME epoch-aligned chunk grid the smoothing
semantics use (engine_core.CHUNK_SLOTS) — so each chunk of a hot
conversation is an independent unit of work, and the per-task state is
one chunk's grid regardless of conversation length.

Exactness is preserved by shipping each (conv, chunk) group everything the
single-task math would see from outside the chunk (the reference's
chunk+overlap halo pattern, /root/reference/R/api_chunks.R:44-148):

- HALO rows: observed slots within CHUNK_OVERLAP of a boundary are
  duplicated into the neighboring chunk (smoother warm-up context).
- ANCHOR rows: one per (conv, chunk) — the conversation's global extent,
  the global first/last band observation (flag taxonomy), and the nearest
  band observation OUTSIDE the chunk's extended window on each side (so
  linear gap-fill across chunk boundaries interpolates between exactly
  the same endpoints as the global fill). Anchors are computed with
  window functions over a per-(conv, chunk) summary that covers the
  conversation's FULL chunk range (gap chunks included via sequence()),
  then unioned into the stream as marker rows — no join against the fat
  stream, no driver round-trip.

The kernel smooths each chunk's extended window and crops — numerically
the SAME operation smooth_conv applies inside one task — and hands the
cropped chunk grids to the fused kernel's tier emitter
(``fused._emit_tiers``), so ``fused_write_chunked`` writes tiers
BYTE-identical to the single-node oracle (asserted in
tests/test_chunked.py and tests/test_spark_pipeline.py). Scale math: a
conversation spanning Y years is ~Y*46 chunks of <= 11520 slots each,
each a few hundred KB of state.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import engine_core
from ..batching import arrow_conv_batches
from .fused import (
    FLUSH_ROWS,
    STATS_SCHEMA,
    PartitionedWriter,
    _emit_tiers,
    require_no_speculation,
)
from .regularize import _OBS_COLS

CHUNK_SEC = engine_core.CHUNK_SLOTS * 60
OV_SEC = engine_core.CHUNK_OVERLAP * 60

# marker 0 = anchor row (one per (conv, chunk)), 1 = data row (own or halo)
_STREAM_SCHEMA = (
    "conv_id string, chunk long, marker int, slot_s long, "
    "n_turns long, tokens_user long, tokens_assistant long, tokens_tool long, "
    "tool_calls long, alen_sum long, alen_n long, "
    "conv_lo long, conv_hi long, g_first_alen long, g_last_alen long, "
    "prev_slot long, prev_val double, next_slot long, next_val double"
)


def _chunk_of(col):
    return F.floor(col / F.lit(CHUNK_SEC)).cast("long")


def _anchor_table(obs: DataFrame) -> DataFrame:
    """One row per (conv, chunk) over the conv's FULL chunk range with the
    outside-context scalars the chunk kernel needs."""
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
    # densify to the conv's full chunk range (gap chunks emit grid rows too)
    span = summ.groupBy("conv_id").agg(
        F.min("chunk").alias("k0"),
        F.max("chunk").alias("k1"),
        F.min("c_lo").alias("conv_lo"),
        F.max("c_hi").alias("conv_hi"),
        F.min("first_pt").alias("g_first"),
        F.max("last_pt").alias("g_last"),
    )
    dense = span.select(
        "conv_id",
        "conv_lo",
        "conv_hi",
        "g_first",
        "g_last",
        F.explode(F.sequence("k0", "k1")).alias("chunk"),
    ).join(summ.drop("c_lo", "c_hi"), ["conv_id", "chunk"], "left")

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
        F.lit(0).alias("marker"),
        F.lit(None).cast("long").alias("slot_s"),
        *[F.lit(None).cast("long").alias(c) for c in (
            "n_turns", "tokens_user", "tokens_assistant", "tokens_tool",
            "tool_calls", "alen_sum", "alen_n",
        )],
        "conv_lo",
        "conv_hi",
        F.col("g_first.s").alias("g_first_alen"),
        F.col("g_last.s").alias("g_last_alen"),
        prev_pt["s"].alias("prev_slot"),
        prev_pt["v"].alias("prev_val"),
        next_pt["s"].alias("next_slot"),
        next_pt["v"].alias("next_val"),
    )


def _data_stream(obs: DataFrame) -> DataFrame:
    """Observed rows keyed by chunk, plus halo copies into neighbors."""
    ck = _chunk_of(F.col("slot_s"))
    base_cols = ["conv_id", "slot_s", *_OBS_COLS]
    nulls = [
        F.lit(None).cast("long").alias(c)
        for c in ("conv_lo", "conv_hi", "g_first_alen", "g_last_alen", "prev_slot")
    ] + [
        F.lit(None).cast("double").alias("prev_val"),
        F.lit(None).cast("long").alias("next_slot"),
        F.lit(None).cast("double").alias("next_val"),
    ]

    def rows(chunk_expr, cond=None):
        df = obs if cond is None else obs.where(cond)
        return df.select(
            "conv_id",
            chunk_expr.cast("long").alias("chunk"),
            F.lit(1).alias("marker"),
            "slot_s",
            *_OBS_COLS,
            *nulls,
        )

    own = rows(ck)
    lo_halo = rows(ck - 1, F.col("slot_s") < ck * CHUNK_SEC + OV_SEC)
    hi_halo = rows(ck + 1, F.col("slot_s") >= (ck + 1) * CHUNK_SEC - OV_SEC)
    return own.unionByName(lo_halo).unionByName(hi_halo)


def _iter_groups(tbl) -> Iterator[tuple[int, int]]:
    """(lo, hi) bounds of each processable (conv, chunk) group in a
    gkey-sorted batch — the SINGLE definition of the skip rules (a
    halo-only group has no anchor row; an anchor row carries conv_lo)."""
    key = tbl["gkey"]
    _, starts = np.unique(key, return_index=True)
    starts = np.sort(starts)
    bounds = np.append(starts, len(key))
    for gi in range(len(starts)):
        lo, hi = int(bounds[gi]), int(bounds[gi + 1])
        if tbl["marker"][lo] != 0:
            continue  # halo-only group without anchor: nothing to emit
        conv_lo = tbl["conv_lo"][lo]
        if conv_lo is None or (isinstance(conv_lo, float) and np.isnan(conv_lo)):
            continue
        yield lo, hi


def _group_slices(tbl, max_slots: int) -> Iterator[list[tuple[int, dict]]]:
    """(lo, cropped grid) of each (conv, chunk) group of a gkey-sorted
    batch, in lists of about ``max_slots`` grid slots — a silent chunk
    expands one anchor row into a whole chunk of slots, so the output of
    a batch is bounded by slots, not by its input rows."""
    out: list[tuple[int, dict]] = []
    n = 0
    for lo, hi in _iter_groups(tbl):
        res = _process_group(tbl, lo, hi)
        if res is None:
            continue
        out.append((lo, res))
        n += len(res["slot_start_s"])
        if n >= max_slots:
            yield out
            out, n = [], 0
    if out:
        yield out


def _process_group(tbl, lo: int, hi: int):
    chunk = int(tbl["chunk"][lo])
    conv_lo = int(tbl["conv_lo"][lo])
    conv_hi = int(tbl["conv_hi"][lo])
    a = max(conv_lo, chunk * CHUNK_SEC)
    b = min(conv_hi, (chunk + 1) * CHUNK_SEC - 60)
    if b < a:
        return None  # chunk outside the conv's extent (can't happen)
    ext_lo = max(conv_lo, a - OV_SEC)
    ext_hi = min(conv_hi, b + OV_SEC)
    t_ext = (ext_hi - ext_lo) // 60 + 1

    # scatter ALL data rows (own + halo) that fall inside the ext window
    sl = slice(lo, hi)
    slot = tbl["slot_s"][sl]
    marker = tbl["marker"][sl]
    keep = (marker == 1) & ~np.isnan(slot.astype(np.float64)) if slot.dtype != np.int64 else (marker == 1)
    keep = keep & (slot >= ext_lo) & (slot <= ext_hi)
    # nullable arrow ints arrive as float64 with NaN on anchor rows
    pos = ((slot[keep] - ext_lo) // 60).astype(np.int64)
    grid = {"slot_start_s": ext_lo + 60 * np.arange(t_ext, dtype=np.int64)}

    def scatter(col):
        out = np.zeros(t_ext, dtype=np.int64)
        out[pos] = col[keep].astype(np.int64)
        return out

    for c in ("n_turns", "tokens_user", "tokens_assistant", "tokens_tool", "tool_calls"):
        grid[c] = scatter(tbl[c][sl])
    alen_sum = scatter(tbl["alen_sum"][sl])
    alen_n = scatter(tbl["alen_n"][sl])
    del marker
    with np.errstate(invalid="ignore", divide="ignore"):
        alen = np.where(alen_n > 0, alen_sum.astype(np.float64) / alen_n, np.nan)

    # exact global gap-fill: interp over ext points + outside anchors
    obs_mask = alen_n > 0
    xs = np.flatnonzero(obs_mask).astype(np.float64)
    ys = alen[obs_mask]
    prev_s, next_s = tbl["prev_slot"][lo], tbl["next_slot"][lo]
    if prev_s is not None and not (isinstance(prev_s, float) and np.isnan(prev_s)):
        xs = np.concatenate([[(int(prev_s) - ext_lo) / 60.0], xs])
        ys = np.concatenate([[float(tbl["prev_val"][lo])], ys])
    if next_s is not None and not (isinstance(next_s, float) and np.isnan(next_s)):
        xs = np.concatenate([xs, [(int(next_s) - ext_lo) / 60.0]])
        ys = np.concatenate([ys, [float(tbl["next_val"][lo])]])
    if len(xs):
        filled = np.interp(np.arange(t_ext, dtype=np.float64), xs, ys)
    else:
        filled = np.full(t_ext, np.nan)  # band empty across the whole conv

    # flags from the conversation's GLOBAL first/last band observation
    gf, gl = tbl["g_first_alen"][lo], tbl["g_last_alen"][lo]
    flags = np.full(t_ext, "linear", dtype=object)
    flags[obs_mask] = "obs"
    if gf is None or (isinstance(gf, float) and np.isnan(gf)):
        flags[:] = "empty"
    else:
        slots_abs = grid["slot_start_s"]
        flags[(slots_abs < int(gf)) & ~obs_mask] = "locf_lead"
        flags[(slots_abs > int(gl)) & ~obs_mask] = "locf_trail"

    # smooth the ext window exactly as smooth_conv does for this segment
    mtx = filled.reshape(1, -1)
    sg = engine_core.kernels.smooth_sg_mtx(
        mtx, order=engine_core.SG_ORDER, length=engine_core.SG_LENGTH
    )[0]
    whit = engine_core.kernels.smooth_whit_mtx(mtx, engine_core.WHIT_LAMBDA)[0]

    # crop to the chunk's own region
    ca = (a - ext_lo) // 60
    cb = (b - ext_lo) // 60 + 1
    return {
        "slot_start_s": grid["slot_start_s"][ca:cb],
        "present": grid["n_turns"][ca:cb] > 0,
        "n_turns": grid["n_turns"][ca:cb],
        "tokens_user": grid["tokens_user"][ca:cb],
        "tokens_assistant": grid["tokens_assistant"][ca:cb],
        "tokens_tool": grid["tokens_tool"][ca:cb],
        "tool_calls": grid["tool_calls"][ca:cb],
        "alen": alen[ca:cb],
        "fill_flag": flags[ca:cb],
        "alen_filled": filled[ca:cb],
        "alen_sg": sg[ca:cb],
        "alen_whit": whit[ca:cb],
    }


def _chunked_stream(obs: DataFrame, partitions: int) -> DataFrame:
    """Anchor + data/halo stream clustered by (conv, chunk) with a
    ``bucket`` column (constant per conv) for the partitioned write."""
    from .. import manifest as mf

    stream = _anchor_table(obs).unionByName(_data_stream(obs))
    clustered = (
        stream.withColumn(
            "gkey", F.concat_ws("#", "conv_id", F.format_string("%06d", "chunk"))
        )
        .withColumn("bucket", mf.bucket_expr())
        .repartitionByRange(partitions, "conv_id", "chunk")
        .sortWithinPartitions("conv_id", "chunk", "marker", "slot_s")
    )
    cols = (
        ["gkey", "bucket"]
        + [f.split(" ")[0] for f in _STREAM_SCHEMA.split(", ")]
    )
    return clustered.select(*cols)


def fused_write_chunked(
    obs: DataFrame,
    table_path: str,
    tiers: tuple[str, ...] = ("1h", "1d"),
    partitions: int | None = None,
    with_pack: bool = True,
    gen: str = "",
) -> DataFrame:
    """Observed slots of GIANT conversations -> the same partitioned tier
    table ``fused.fused_write`` produces, but with (conv, chunk) as the
    unit of work: a conversation spanning years becomes ~span/8d
    independent tasks of bounded state instead of one straggler pinning a
    core (the reference's chunk+overlap pattern, R/api_chunks.R:44-148,
    lifted across tasks). Byte-identical to the whole-conv path: slot rows
    via the halo/anchor kernel, aggregates/packs by the fused kernel's
    emitter with each (conv, chunk) as one series — exact because chunk
    cuts are epoch-day aligned (engine_core.CHUNK_SLOTS % 1440 == 0), so
    no 1h/1d window or 1h pack block spans two chunks. Returns the same
    lazy stats DataFrame contract as fused_write."""
    spark = obs.sparkSession
    require_no_speculation(spark)
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    stream = _chunked_stream(obs, n)

    def write_fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        writer = PartitionedWriter(table_path, pid, label="g", gen=gen)
        for tbl in arrow_conv_batches(it, key="gkey"):
            for groups in _group_slices(tbl, FLUSH_ROWS):
                los = np.array([lo for lo, _res in groups])
                gb = np.zeros(len(groups) + 1, dtype=np.int64)
                np.cumsum([len(res["slot_start_s"]) for _lo, res in groups], out=gb[1:])
                slot_data = {
                    k: np.concatenate([res[k] for _lo, res in groups])
                    for k in groups[0][1]
                }
                for kind, data, rows in _emit_tiers(
                    slot_data, gb, tbl["conv_id"][los],
                    tbl["bucket"][los].astype(np.int32), tiers, with_pack,
                ):
                    writer.add(kind, data, rows)
        yield writer.stats_batch()

    return stream.mapInArrow(write_fn, STATS_SCHEMA)
