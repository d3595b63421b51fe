"""Fused single-pass tier computation: observed slots -> {1m grid, 1h/1d
aggregates, packed blocks} in ONE mapInArrow stage.

At 10^12-turn scale the dominant cost is touching the series data; once a
conversation's grid is materialized in memory, the rollup and packing of
that same grid are marginal. This operator therefore computes every tier
in a single conv-batched pass — the Spark analog of the reference
computing every requested band in one chunk traversal
(/root/reference/R/api_apply.R:114-138 block loop).

One stream feeds the kernel: observed slots keyed by (conv_id, chunk)
(operators.chunk_split.keyed_stream), range-partitioned once by
(bucket, conv_id, chunk) and sorted. An ordinary conversation is one
chunk-0 group that stays whole inside one task and goes to the flat
engine_core kernels; a conversation tagged as a giant arrives as
per-(conv, chunk) groups with halo and anchor rows, spread over tasks,
and goes to chunk_split's per-chunk kernel. Both kinds of series leave
through one generator (``_emit_tiers``); the oracle's per-conv
engine_core functions are the independent reference they are
byte-matched against in tests/test_spark_pipeline.py.

Two sinks over the same kernel stream:

- ``fused_tiers``: a UNION-schema DataFrame (``row_kind`` in
  {slot, agg, pack}) for downstream DataFrame composition.
- ``fused_write``: an Arrow-native partitioned-table writer — each task
  writes its (row_kind, bucket, day|month) parquet files directly via pyarrow
  and returns only per-partition row-count stats. This is the
  DataSourceV2-writer pattern realized at the operator level: the input
  is already range-clustered by bucket, so the write needs no
  repartition exchange and no partition sort, each tier's files carry its
  OWN narrow schema (no union nulls), and the 3-tier fan-out costs one
  action instead of three. Idempotent under task retry: file names are
  deterministic per (partition dir, task partition id) and content is a
  pure function of the input split. Atomicity/visibility is owned by the
  pipeline's manifest commit (sits_spark.manifest), exactly as Iceberg
  writers hand visibility to the catalog commit.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .. import engine_core
from .. import manifest as mf
from ..batching import arrow_conv_batches, conv_bounds, record_batch, schema_of
from . import chunk_split
from .regularize import _OBS_COLS

TIER_1M_SCHEMA = (
    "conv_id string, slot_start timestamp, present boolean, n_turns long, "
    "tokens_user long, tokens_assistant long, tokens_tool long, "
    "tool_calls long, alen double, fill_flag string, alen_filled double, "
    "alen_sg double, alen_whit double"
)
ROLLUP_SCHEMA = (
    "conv_id string, tier string, window_start timestamp, n_slots long, "
    "n_turns long, tokens_user long, tokens_assistant long, tokens_tool long, "
    "tool_calls long, turn_rate double, tool_call_rate double, "
    "alen_mean double, alen_min double, alen_max double, "
    "alen_median double, alen_std double"
)
PACK_SCHEMA = (
    "conv_id string, window_start timestamp, n int, first_ts long, "
    "first_val double, ts_d2 binary, vals_gorilla binary"
)

FUSED_SCHEMA = (
    "row_kind string, conv_id string, slot_start timestamp, present boolean, "
    "n_turns long, tokens_user long, tokens_assistant long, tokens_tool long, "
    "tool_calls long, alen double, fill_flag string, alen_filled double, "
    "alen_sg double, alen_whit double, "
    "tier string, window_start timestamp, n_slots long, "
    "turn_rate double, tool_call_rate double, alen_mean double, "
    "alen_min double, alen_max double, alen_median double, alen_std double, "
    "n int, first_ts long, first_val double, ts_d2 binary, vals_gorilla binary, "
    "bucket int, day date"
)
_FUSED_PA = schema_of(FUSED_SCHEMA)

TIER_1M_COLS = [f.split(" ")[0] for f in TIER_1M_SCHEMA.split(", ")]
ROLLUP_COLS = [f.split(" ")[0] for f in ROLLUP_SCHEMA.split(", ")]
PACK_COLS = [f.split(" ")[0] for f in PACK_SCHEMA.split(", ")]

# per-kind on-disk file schema (partition cols bucket/day|month live in the path)
_KIND_PA = {
    "slot": schema_of(TIER_1M_SCHEMA),
    "agg": schema_of(ROLLUP_SCHEMA),
    "pack": schema_of(PACK_SCHEMA),
}
# Partition grain per row_kind, from its retention grain
# (retention.DEFAULT_POLICY): tier_1m, kept 7 days, by day; agg and
# packed_1h, kept 365 and 30 days, by calendar month (``month`` is the
# month's first day), so their files hold a month of rows instead of a
# footer and ~4 rows per (bucket, day).
PART_COL = {"slot": "day", "agg": "month", "pack": "month"}
_PART_PA = {
    kind: pa.schema([("bucket", pa.int32()), (col, pa.date32())])
    for kind, col in PART_COL.items()
}
# a kind's rows as the writer holds them: file columns + partition columns
_ADD_PA = {
    kind: pa.schema(list(_KIND_PA[kind]) + list(_PART_PA[kind]))
    for kind in _KIND_PA
}
TIER_OF_KIND = {"slot": "tier_1m", "agg": "agg", "pack": "packed_1h"}

STATS_SCHEMA = "tier string, bucket int, rows long"
_STATS_PA = schema_of(STATS_SCHEMA)


def month_start(day: np.ndarray) -> np.ndarray:
    """Epoch day -> epoch day of its calendar month's first day."""
    return (
        np.asarray(day).astype("datetime64[D]").astype("datetime64[M]")
        .astype("datetime64[D]").astype(np.int32)
    )


def require_no_speculation(spark) -> None:
    """Every PartitionedWriter-based job writes deterministic file names
    with no output-commit coordinator — safe under sequential task retry,
    unsafe under concurrent attempts of one task (speculation)."""
    if spark.conf.get("spark.speculation", "false").lower() == "true":
        raise RuntimeError(
            "direct tier writes require spark.speculation=false: concurrent "
            "task attempts would write the same deterministic file names. "
            "Set spark.speculation=false for rollup runs."
        )


def _tier_stream(
    it: Iterator[pa.RecordBatch], tiers: tuple[str, ...], with_pack: bool
):
    """Kernel core: yields (kind, columns, n_rows) per batch of series,
    where ``columns`` maps each output column (timestamps as int64
    epoch-µs, plus ``bucket`` int32 and ``day`` int32 epoch-days) to a
    numpy array. Whole-conversation rows go to the flat kernels, giant
    (conv, chunk) groups to chunk_split's; both emit via ``_emit_tiers``."""
    for tbl in arrow_conv_batches(_non_null_keys(it), key=("conv_id", "chunk")):
        whole = tbl["marker"] == chunk_split.WHOLE_ROW
        if whole.any():
            yield from _emit_tiers(*_whole_grids(_rows(tbl, whole)), tiers, with_pack)
        if not whole.all():
            for grids in chunk_split.chunk_grids(_rows(tbl, ~whole), FLUSH_ROWS):
                yield from _emit_tiers(*grids, tiers, with_pack)


def _non_null_keys(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for rb in it:
        if rb.column("conv_id").null_count:
            raise ValueError(
                f"conv_id is NULL in {rb.column('conv_id').null_count} observed "
                "slot rows: every turn needs a conversation id"
            )
        if rb.column("slot_s").null_count:
            raise ValueError(
                f"ts is NULL in {rb.column('slot_s').null_count} observed "
                "slot rows: every turn needs a timestamp"
            )
        yield rb


def _rows(tbl: dict[str, np.ndarray], mask: np.ndarray) -> dict[str, np.ndarray]:
    return tbl if mask.all() else {k: v[mask] for k, v in tbl.items()}


def _whole_grids(tbl: dict[str, np.ndarray]) -> tuple:
    """Dense grids + band pipeline of whole conversations, flat across the
    batch, as ``_emit_tiers``' (slot_data, gb, conv_ids, buckets)."""
    cid = tbl["conv_id"]
    starts, bounds = conv_bounds(cid)
    grid, gb = engine_core.scatter_grid_flat(
        tbl["slot_s"], bounds, {c: tbl[c] for c in _OBS_COLS}
    )
    filled, sg, whit, flags = engine_core.band_pipeline_flat(
        grid["alen"], gb, grid["slot_start_s"][gb[:-1]] // 60
    )
    slot_data: dict[str, np.ndarray] = {
        "slot_start_s": grid["slot_start_s"],
        "alen": grid["alen"],
        "fill_flag": flags,
        "alen_filled": filled,
        "alen_sg": sg,
        "alen_whit": whit,
    }
    for k in ("present", *engine_core._SUM_COLS):
        slot_data[k] = grid[k]
    return slot_data, gb, cid[starts], tbl["bucket"][starts].astype(np.int32)


def _emit_tiers(
    slot_data: dict[str, np.ndarray],
    gb: np.ndarray,
    conv_arr: np.ndarray,
    bkt_arr: np.ndarray,
    tiers: tuple[str, ...],
    with_pack: bool,
):
    """slot -> agg -> pack rows of a batch of dense grids.

    ``slot_data`` holds the concatenated grid columns (``slot_start_s`` in
    epoch seconds; conv_id, slot_start, bucket and day are added here),
    ``gb`` the bounds of each series in it, ``conv_arr``/``bkt_arr`` each
    series' conv_id and bucket. One vectorized rollup per tier and one
    pack pass run across every series of the batch; windows never merge
    across ``gb``, so a series may be a whole conversation or one
    epoch-day-aligned chunk of one."""
    lens = np.diff(gb)
    slot_s = slot_data["slot_start_s"]
    slot_data["conv_id"] = np.repeat(conv_arr, lens)
    slot_data["slot_start"] = slot_s * 1_000_000
    slot_data["bucket"] = np.repeat(bkt_arr, lens)
    slot_data["day"] = (slot_s // 86400).astype(np.int32)
    yield "slot", slot_data, int(gb[-1])

    flat = {"slot_start_s": slot_s, "alen_whit": slot_data["alen_whit"]}
    for k in engine_core._SUM_COLS:
        flat[k] = slot_data[k]

    if tiers:
        parts = [
            (tier, *engine_core.rollup_flat(flat, gb, engine_core.TIER_SECONDS[tier]))
            for tier in tiers
        ]
        n_agg = sum(len(cw) for _t, _c, cw in parts)
        agg_win = np.concatenate([c["window_start_s"] for _t, c, _w in parts])
        agg_data = {
            "conv_id": np.concatenate([conv_arr[cw] for _t, _c, cw in parts]),
            "bucket": np.concatenate([bkt_arr[cw] for _t, _c, cw in parts]),
            "tier": np.concatenate(
                [np.full(len(cw), t, dtype=object) for t, _c, cw in parts]
            ),
            "window_start": agg_win * 1_000_000,
            "day": (agg_win // 86400).astype(np.int32),
        }
        for k in engine_core.ROLLUP_COLS:
            if k != "window_start_s":
                agg_data[k] = np.concatenate([c[k] for _t, c, _w in parts])
        yield "agg", agg_data, n_agg

    if with_pack:
        pcols, pcw = engine_core.pack_flat(flat, gb, 3600)
        pk_win = pcols["window_start_s"]
        pack_data = {
            "conv_id": conv_arr[pcw],
            "bucket": bkt_arr[pcw],
            "window_start": pk_win * 1_000_000,
            "day": (pk_win // 86400).astype(np.int32),
            "n": pcols["n"],
            "first_ts": pcols["first_ts"],
            "first_val": pcols["first_val"],
            "ts_d2": np.array(pcols["ts_d2"], dtype=object),
            "vals_gorilla": np.array(pcols["vals_gorilla"], dtype=object),
        }
        yield "pack", pack_data, len(pcw)


def _fused_iter(tiers: tuple[str, ...], with_pack: bool = True):
    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for kind, data, n in _tier_stream(it, tiers, with_pack):
            data = dict(data)
            data["row_kind"] = np.full(n, kind, dtype=object)
            yield record_batch(data, _FUSED_PA, n)

    return fn


def _cluster(
    observed: DataFrame,
    partitions: int | None,
    split: tuple[DataFrame, DataFrame] | None = None,
    n_buckets: int = mf.N_BUCKETS,
) -> DataFrame:
    """The one kernel stream: range-cluster the keyed rows by
    (bucket, conv_id, chunk) and sort — an ordinary conversation (one
    chunk-0 group) stays whole inside one task, a giant's chunks spread
    over tasks, and each task's output covers few buckets, so a
    (bucket, day|month)-partitioned write needs no further exchange."""
    n = partitions or int(
        observed.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        chunk_split.keyed_stream(observed, split)
        .withColumn("bucket", mf.bucket_expr(n_buckets=n_buckets))
        .repartitionByRange(n, "bucket", "conv_id", "chunk")
        .sortWithinPartitions("bucket", "conv_id", "chunk", "marker", "slot_s")
    )


def fused_tiers(
    observed: DataFrame,
    tiers: tuple[str, ...] = ("1h", "1d"),
    partitions: int | None = None,
    with_pack: bool = True,
) -> DataFrame:
    """Observed 1-minute slots -> union-schema stream of all tiers."""
    return _cluster(observed, partitions).mapInArrow(
        _fused_iter(tiers, with_pack), FUSED_SCHEMA
    )


# flush thresholds per row_kind: bound task memory to ~flush-size per kind
# regardless of how much data the task's key range holds (a skewed range
# at 100x otherwise buffers its whole multi-GB output before writing).
# Both limits apply — rows for the narrow tiers, bytes for blob-carrying
# pack rows whose size per row is unbounded.
FLUSH_ROWS = 1 << 18
FLUSH_BYTES = 64 << 20
# lz4 over zstd for the tier files: the fused kernel+write stage is the
# scaling bottleneck (its total CPU inflates ~40% from 2 -> 8 cores under
# memory-bandwidth contention), and the parquet encoder's CPU is a big
# share of it. Measured interleaved at local[8] on the bench table:
# lz4 min 29.7 s vs zstd 33.9 s (-12% wall), and the 2 -> 8 scaling
# ratio improves because the saved CPU is concentrated in the parallel
# stage. The tier floats are smoothed doubles (high entropy), so zstd's
# better ratio bought little on the dominant columns anyway; the packed
# blob tier is already Gorilla-compressed before parquet sees it.
WRITE_COMPRESSION = "lz4"

# Dictionary-encode ONLY the low-cardinality string columns (round 6,
# guide §6 file layout): pyarrow dictionary-encodes every column by
# default, and on the dominant high-entropy columns (smoothed doubles,
# exact int sums, Gorilla blobs) the dictionary build is pure CPU with a
# guaranteed fallback — measured 0.71 s -> 0.30 s per 1M-row flush
# (2.4x) on tier-shaped data at equal file size (51.7 vs 52.2 MB).
_DICT_COLS = {
    "slot": ["conv_id", "fill_flag"],
    "agg": ["conv_id", "tier"],
    "pack": ["conv_id"],
}

# Column statistics likewise only where a reader can use them for
# row-group skipping — the partition/series keys and the time axis
# (read_tier filters conv_id and slot/window ranges; read_agg filters
# tier). Stats on the measure and blob columns are encoder CPU nobody
# reads: min/max of smoothed doubles or Gorilla blobs prune nothing.
# Measured on tier-shaped data: 0.31 -> 0.26 s per 1M-row flush.
_STAT_COLS = {
    "slot": ["conv_id", "fill_flag", "slot_start"],
    "agg": ["conv_id", "tier", "window_start"],
    "pack": ["conv_id", "window_start", "first_ts"],
}


class PartitionedWriter:
    """Incremental Arrow-native partitioned writer: ``tier_1m`` files by
    (bucket, day), ``agg`` and ``packed_1h`` files by (bucket, month)
    (``PART_COL``). ``add`` takes every kind with its ``day`` column; the
    writer maps it to the month where the kind's grain is a month.

    Accumulates kernel output per row_kind and flushes to
    ``pads.write_dataset`` every FLUSH_ROWS rows — each flush gets a
    deterministic basename (task partition id + flush index). The write
    is single-threaded, so rows keep their flush order inside each file
    (month files are sorted by ``window_start`` first) and the same
    batches give the same file bytes: a sequential task retry overwrites
    the same files with the same content (the input split and kernel
    stream are deterministic). ``gen`` is the
    write action's generation token — unique per action, fixed at plan build,
    so names are unique ACROSS actions (no cross-run overwrite; stale
    generations stay invisible to manifest-driven readers and are
    reclaimed by vacuum) yet deterministic WITHIN one (retry-safe).

    Writer-backend note (measured, round 4): an alternative that keeps
    one persistent ``pq.ParquetWriter`` per (bucket, day) and appends a
    row group per flush was tried and REVERTED — per-task cProfile at
    local[32] showed 13k ~1k-row ``write_table`` calls costing 116
    CPU-s vs ``write_dataset``'s 48 CPU-s for the same data;
    write_dataset's single C++ pass groups and encodes all partitions of
    a flush at ~0.4 ms each, which Python-side per-partition calls
    cannot match. The fused stage's residual 8->32 CPU inflation is
    host memory bandwidth (BENCH/BASELINE.md calibration), not writer
    overhead."""

    def __init__(
        self,
        table_path: str,
        pid: int,
        flush_rows: int | None = None,
        flush_bytes: int | None = None,
        gen: str = "",
    ):
        import pyarrow.dataset as pads

        self._pads = pads
        self.table_path = table_path
        self.pid = pid
        self.prefix = f"part-g{gen}-" if gen else "part-"
        self.flush_rows = flush_rows or FLUSH_ROWS
        self.flush_bytes = flush_bytes or FLUSH_BYTES
        self._acc: dict[str, list[pa.RecordBatch]] = {}
        self._acc_rows: dict[str, int] = {}
        self._acc_bytes: dict[str, int] = {}
        self._flush_idx: dict[str, int] = {}
        self._counts: dict[str, np.ndarray] = {}
        self._opts = {
            kind: pads.ParquetFileFormat().make_write_options(
                compression=WRITE_COMPRESSION,
                use_dictionary=cols,
                write_statistics=_STAT_COLS[kind],
            )
            for kind, cols in _DICT_COLS.items()
        }

    def add(self, kind: str, data: dict[str, np.ndarray], n: int) -> None:
        if not n:
            return
        if PART_COL[kind] == "month":
            data = {**data, "month": month_start(data["day"])}
        rb = record_batch(data, _ADD_PA[kind], n)
        self._acc.setdefault(kind, []).append(rb)
        self._acc_rows[kind] = self._acc_rows.get(kind, 0) + n
        self._acc_bytes[kind] = self._acc_bytes.get(kind, 0) + rb.nbytes
        c = self._counts.get(kind)
        bc = np.bincount(data["bucket"], minlength=len(c) if c is not None else 0)
        self._counts[kind] = bc if c is None else (
            bc + np.pad(c, (0, len(bc) - len(c))) if len(bc) >= len(c)
            else c + np.pad(bc, (0, len(c) - len(bc)))
        )
        if (
            self._acc_rows[kind] >= self.flush_rows
            or self._acc_bytes[kind] >= self.flush_bytes
        ):
            self._flush(kind)

    def _flush(self, kind: str) -> None:
        rbs = self._acc.pop(kind, None)
        if not rbs:
            return
        self._acc_rows[kind] = 0
        self._acc_bytes[kind] = 0
        fi = self._flush_idx.get(kind, 0)
        self._flush_idx[kind] = fi + 1
        table = pa.Table.from_batches(rbs)
        if PART_COL[kind] == "month":
            # a month file sorted by window_start keeps day reads prunable
            # on its window_start statistics
            table = table.sort_by("window_start")
        # Arrow C++ groups rows by partition and writes the hive layout
        # directly. Single-threaded: the task already owns its core, and
        # the threaded writer reorders rows, so the same batches gave
        # different file bytes from one write to the next
        self._pads.write_dataset(
            table,
            os.path.join(self.table_path, f"row_kind={kind}"),
            format="parquet",
            partitioning=self._pads.partitioning(_PART_PA[kind], flavor="hive"),
            basename_template=f"{self.prefix}{self.pid:05d}-{fi:04d}-{{i}}.parquet",
            file_options=self._opts[kind],
            existing_data_behavior="overwrite_or_ignore",
            max_partitions=1 << 20,
            max_open_files=4096,
            use_threads=False,
        )

    def stats_batch(self) -> pa.RecordBatch:
        """Flush everything and return the per-(tier, bucket) row counts."""
        for kind in list(self._acc):
            self._flush(kind)
        tiers_out: list[str] = []
        buckets_out: list[int] = []
        rows_out: list[int] = []
        for kind, bc in self._counts.items():
            for b in np.flatnonzero(bc):
                tiers_out.append(TIER_OF_KIND[kind])
                buckets_out.append(int(b))
                rows_out.append(int(bc[b]))
        return record_batch(
            {
                "tier": np.array(tiers_out, dtype=object),
                "bucket": np.array(buckets_out, dtype=np.int32),
                "rows": np.array(rows_out, dtype=np.int64),
            },
            _STATS_PA,
            len(tiers_out),
        )


def _write_iter(
    table_path: str,
    tiers: tuple[str, ...],
    with_pack: bool,
    flush_rows: int | None = None,
    flush_bytes: int | None = None,
    gen: str = "",
):
    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        writer = PartitionedWriter(
            table_path, pid, flush_rows=flush_rows, flush_bytes=flush_bytes,
            gen=gen,
        )
        for kind, data, n in _tier_stream(it, tiers, with_pack):
            writer.add(kind, data, n)
        yield writer.stats_batch()

    return fn


def fused_write(
    observed: DataFrame,
    table_path: str,
    tiers: tuple[str, ...] = ("1h", "1d"),
    partitions: int | None = None,
    with_pack: bool = True,
    flush_rows: int | None = None,
    flush_bytes: int | None = None,
    gen: str = "",
    split: tuple[DataFrame, DataFrame] | None = None,
    n_buckets: int = mf.N_BUCKETS,
) -> DataFrame:
    """Observed 1-minute slots -> partitioned tier table on disk.

    Returns the (lazy) per-(tier, bucket) row-count stats DataFrame; the
    caller's action on it IS the write job — one action, one range
    exchange, one mapInArrow for every conversation. ``split`` names the
    conversations to cut into (conv, chunk) units of work as one
    ``(ids, anchors)`` pair (``chunk_split.keyed_stream``); None keeps
    every conversation whole. Rows are bucketed by
    ``bucket(conv_id) mod n_buckets``.

    Constraint: tasks write deterministic file names with no output-commit
    coordinator, which is only safe when a task attempt cannot run twice
    concurrently — i.e. speculation off. Idempotent under sequential task
    RETRY (same name, same content); enforced here rather than assumed."""
    require_no_speculation(observed.sparkSession)
    return _cluster(observed, partitions, split, n_buckets).mapInArrow(
        _write_iter(table_path, tiers, with_pack, flush_rows, flush_bytes, gen),
        STATS_SCHEMA,
    )


def slot_tier(fused: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return fused.where(F.col("row_kind") == "slot").select(*TIER_1M_COLS)


def agg_tier(fused: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return fused.where(F.col("row_kind") == "agg").select(*ROLLUP_COLS)


def pack_tier(fused: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return fused.where(F.col("row_kind") == "pack").select(*PACK_COLS)
