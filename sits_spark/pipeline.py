"""End-to-end rollup pipeline: raw transcripts -> 1m -> {1h, 1d, packed}.

The Spark re-expression of the reference's chunked physical pipeline
(/root/reference/R/api_classify.R:32-246 skeleton; regularize entry
R/sits_regularize.R:170-246): Catalyst handles scan + pruning + the slot
aggregation, Arrow-batched kernels handle the per-series math, manifests
handle resume, and tier outputs land partitioned by
(bucket(conv_id), day or month) — the parquet-compatible Iceberg layout.

Physical plan — ONE action per checkpoint group, for every conversation:

  scan -> slot agg (map-side partial, 1 exchange) ->
  tag giants (broadcast left join with the driver-held id list) ->
    explode giant rows into chunk + halo copies, union one anchor row
    per giant (conv, chunk) ->
  range-partition by (bucket, conv_id, chunk) + sort (1 exchange) ->
  grid/fill/smooth/rollup/pack fused mapInArrow (whole convs: flat
    kernel; giant chunks: chunk kernel) ->
  partitioned write (row_kind, bucket, day) for tier_1m,
    (row_kind, bucket, month) for agg and packed_1h

The giants' anchor rows come from a small per-(conv, chunk) summary of the
giants alone (a second scan, semi-joined to the giant ids below its slot
aggregation, with two small exchanges of its own); without giants the
plan is the single scan above.

The fused kernel emits every tier as a UNION-schema stream tagged with
``row_kind`` AND emits the write's partition columns directly, so the
write needs no repartition exchange and no ``persist`` — the whole
pipeline moves each byte exactly once. (The previous design persisted the
union and ran three write actions, i.e. one cache materialization plus
three full write shuffles; on hosts where fresh-page allocation is a
serialized resource that serial byte traffic dominated the scaling curve.)

All three tiers live in one partitioned table::

    <warehouse>/tiers/row_kind=slot/bucket=N/day=YYYY-MM-DD/
    <warehouse>/tiers/row_kind={agg|pack}/bucket=N/month=YYYY-MM-01/

Each tier is partitioned at its retention grain: tier_1m (kept days) by
day, the 1h/1d aggregates and packed blocks (kept months) by calendar
month, their rows sorted by ``window_start`` inside each file.

Readers prune by row_kind (partition pruning) and project each tier's
column set; absent columns in a row_kind are parquet nulls (RLE'd to
~nothing on disk).

Resume: each group's write commits one manifest row per (tier, bucket).
A restarted run anti-joins planned buckets against committed rows (the
reference's skip-existing-tiles recovery, /root/reference/R/api_gdalcubes.R:713-760)
and recomputes only the missing buckets. ``checkpoint_groups`` > 1 splits
a fresh run into that many sequential write actions so a mid-run kill
loses only the in-flight group; each extra group re-scans the raw input
(with Iceberg bucket pruning the re-scan is bucket-local; on plain parquet
it is a full scan, so throughput benchmarks use one group).
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import engine_core
from . import manifest as mf
from . import storage as store_mod
from .operators import fused, regularize
from .session import read_parquet

TIER_DIRS = {
    "tier_1m": "row_kind=slot",
    "agg": "row_kind=agg",
    "packed_1h": "row_kind=pack",
}

TIER_COLS = {
    "tier_1m": fused.TIER_1M_COLS,
    "agg": fused.ROLLUP_COLS,
    "packed_1h": fused.PACK_COLS,
}


class RollupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        n_buckets: int = mf.N_BUCKETS,
        range_partitions: int | None = None,
        giant_span_chunks: int | None = 2,
        storage=None,
        stats_dir: str | None = None,
    ):
        """``giant_span_chunks``: conversations spanning more than this
        many 8-day chunks are cut into per-(conv, chunk) units of work
        (operators.chunk_split) inside the one write stream instead of
        staying whole in one task — one pathological years-long
        conversation otherwise pins a core and holds its full grid in one
        task. ``None`` disables the split (and its cheap pruned-column
        pre-scan)."""
        self.spark = spark
        self.warehouse = warehouse
        self.n_buckets = n_buckets
        self.range_partitions = range_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self.giant_span_chunks = giant_span_chunks
        self.table_path = os.path.join(warehouse, "tiers")
        self.storage = storage or store_mod.LocalFsStorage()
        self.store = mf.ManifestStore(spark, warehouse, storage=self.storage)
        # input-table statistics (the giant-conv extents list) are a pure
        # function of the INPUT fingerprint, not of this warehouse — like
        # Iceberg table stats they can live with the table's metadata and
        # be shared across jobs. Default keeps them under the warehouse.
        self.stats_dir = stats_dir or warehouse

    def tier_path(self, tier: str) -> str:
        return os.path.join(self.table_path, TIER_DIRS[tier])

    def _read_input(self, path: str) -> DataFrame:
        """The input parquet table (schema memoised by ``read_parquet``);
        a directory holding no data files is a ValueError naming the
        path, not Spark's schema-inference error."""
        try:
            return read_parquet(self.spark, path)
        except AnalysisException as e:
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            raise ValueError(f"input path {path!r} holds no parquet files") from e

    def _plan_missing(self, tier_names, fp: str, resume: bool) -> list[int]:
        if not resume:
            return list(range(self.n_buckets))
        return sorted(
            set().union(
                *(
                    set(self.store.plan_missing(t, fp, self.n_buckets))
                    for t in tier_names
                )
            )
        )

    def _write(self, observed, giants: list[str], tiers, with_pack, gen=""):
        """The write action's lazy stats DataFrame: ONE fused_write over
        every conversation. The giants (the driver-held ``_giant_convs``
        list) are tagged by a broadcast join, not split off by a filter,
        so the slot aggregation, the range exchange and the kernel all
        run once; the tag cuts each giant into per-(conv, chunk) units of
        work inside that one stream. A join rather than a literal
        ``isin``: on a 4-core host, planning the write with an In list
        took 1.4 s at 1k ids, 9.8 s at 10k and ~100 s at 100k
        (MAX_GIANTS); the join's plan holds no id literals, and planning
        it did not grow with the list."""
        giant_ids = None
        if giants:
            # from Arrow, decoded in the JVM: a DataFrame made from a
            # Python list is decoded by a second pool of Python workers
            # (~0.5 GB more resident memory on a 4-core pass)
            import pyarrow as pa

            giant_ids = self.spark.createDataFrame(pa.table({"conv_id": giants}))
        return fused.fused_write(
            observed, self.table_path, tiers, self.range_partitions,
            with_pack=with_pack, gen=gen, giants=giant_ids,
        )

    def _commit_group(
        self, stats, group, fp: str, run_id: str, tier_names, gen: str
    ) -> None:
        """The shared write-action + manifest protocol, rename-free and
        object-store-safe: tombstone the group across ALL row_kinds (a
        kill between here and the commit leaves the buckets visibly
        missing rather than claiming a half-written generation; manifest
        rows supersede by seq, including tiers this run won't rewrite,
        e.g. a with_pack=False rerun over a previously packed table),
        then run the write action — files land under UNIQUE
        generation-tagged names, old generations untouched — then flip
        visibility by committing the new generation. Readers resolve
        files through the manifest (read_tier), so no physical delete or
        rename ever happens in the hot path; stale generations are
        reclaimed by ``vacuum``."""
        self.store.invalidate(list(TIER_DIRS), group, fp, run_id)
        # collecting the stats IS the write action; counts feed lineage
        counts = {
            (r["tier"], r["bucket"]): r["rows"]
            for r in stats.groupBy("tier", "bucket")
            .agg(F.sum("rows").alias("rows"))
            .collect()
        }
        self.store.commit(
            [
                (t, b, fp, counts.get((t, b), 0), run_id)
                for t in tier_names
                for b in group
            ],
            gen=gen,
        )

    def run(
        self,
        input_path: str,
        run_id: str = "run-0",
        resume: bool = True,
        tiers: tuple[str, ...] = ("1h", "1d"),
        with_pack: bool = True,
        checkpoint_groups: int = 1,
    ) -> dict[str, str]:
        """Run (or resume) the full pipeline over a transcript table on disk.

        Returns {tier_name: output_path}. With ``resume=True``, conv
        buckets already committed for this input fingerprint are skipped —
        the anti-join resume pattern (sits' `.gc_missing_tiles`,
        /root/reference/R/api_gdalcubes.R:713-760).
        """
        fp = mf.input_fingerprint(input_path)
        raw = self._read_input(input_path)
        tier_names = ["tier_1m", "agg"] + (["packed_1h"] if with_pack else [])
        out = {t: self.tier_path(t) for t in tier_names}

        missing = self._plan_missing(tier_names, fp, resume)
        if not missing:
            return out

        n_groups = max(1, min(checkpoint_groups, len(missing)))
        size = -(-len(missing) // n_groups)
        groups = [missing[i : i + size] for i in range(0, len(missing), size)]

        giants = self._giant_convs(raw, fp)

        for group in groups:
            df = raw
            if len(group) != self.n_buckets:
                df = df.where(mf.bucket_expr().isin(group))
            gen = store_mod.new_generation()
            stats = self._write(
                regularize.observed_slots(df), giants, tiers, with_pack, gen
            )
            self._commit_group(stats, group, fp, run_id, tier_names, gen)
        return out

    def run_from_observed(
        self,
        observed_path: str,
        run_id: str = "compact-0",
        resume: bool = True,
        tiers: tuple[str, ...] = ("1h", "1d"),
        with_pack: bool = True,
    ) -> dict[str, str]:
        """Compact a PRE-AGGREGATED observed-slot table (the streaming
        sink's output, sits_spark.streaming.start_observed_sink) into the
        same tier layout ``run`` produces — the batch-compaction half of
        the streaming story: stream -> observed slots (exact ints,
        watermarked) -> this -> identical tiers (byte-equality vs the
        raw-input pipeline asserted in tests).

        Same manifest/resume/tombstone protocol as ``run``; giant
        conversations split per (conv, chunk) exactly as in ``run``,
        with extents read from the (narrow) observed table itself."""
        fp = mf.input_fingerprint(observed_path)
        obs_cols = ["conv_id", "slot_s", *regularize._OBS_COLS]
        obs_all = self._read_input(observed_path).select(*obs_cols)
        tier_names = ["tier_1m", "agg"] + (["packed_1h"] if with_pack else [])
        out = {t: self.tier_path(t) for t in tier_names}

        missing = self._plan_missing(tier_names, fp, resume)
        if not missing:
            return out

        giants = self._giant_convs(
            obs_all.select("conv_id", F.col("slot_s").cast("timestamp").alias("ts")),
            fp,
        )
        obs = obs_all
        if len(missing) != self.n_buckets:
            obs = obs.where(mf.bucket_expr().isin(missing))
        gen = store_mod.new_generation()
        stats = self._write(obs, giants, tiers, with_pack, gen)
        self._commit_group(stats, missing, fp, run_id, tier_names, gen)
        return out

    # driver-side bound on the giant-id list; beyond it only the
    # worst (longest-span) conversations are split — the rest stay on
    # the whole-conv path, which is always correct, just less parallel
    MAX_GIANTS = 100_000

    def _giant_convs(self, raw: DataFrame, fp: str) -> list[str]:
        """conv_ids spanning more than ``giant_span_chunks`` chunks, as a
        driver-bounded list (cached per input fingerprint).

        The detection scan reads ONLY (conv_id, ts) — column pruning makes
        it a fraction of the full-width scan — and the result is written
        once under the warehouse so resumed runs and later checkpoint
        groups reuse it without a Spark job (pyarrow read). Returns []
        when there are no giants (or the split is disabled): the run then
        takes the unmodified fast path."""
        if self.giant_span_chunks is None:
            return []
        import pyarrow.parquet as pq

        span_sec = self.giant_span_chunks * engine_core.CHUNK_SLOTS * 60
        # cache key includes the threshold: a rerun with a different
        # giant_span_chunks must not reuse a stale id list
        path = os.path.join(
            self.stats_dir, f"_giants-{fp}-c{self.giant_span_chunks}"
        )
        if not self.storage.exists(path):
            import pyarrow as pa

            ts_s = F.col("ts").cast("timestamp").cast("long")
            rows = (
                raw.select("conv_id", ts_s.alias("s"))
                .groupBy("conv_id")
                .agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
                .where(F.col("hi") - F.col("lo") > span_sec)
                .orderBy((F.col("hi") - F.col("lo")).desc(), "conv_id")
                .limit(self.MAX_GIANTS)
                .select("conv_id")
                .collect()
            )
            # the list is driver-bounded (<= MAX_GIANTS), so it publishes
            # as ONE atomic object put — no temp dir, no rename: a run
            # killed mid-write leaves nothing behind that a later run
            # could misread as "no giants"
            table = pa.table({"conv_id": [r["conv_id"] for r in rows]})
            sink = pa.BufferOutputStream()
            pq.write_table(table, sink)
            self.storage.put_atomic(path, sink.getvalue().to_pybytes())
        ids: list[str] = pq.read_table(path)["conv_id"].to_pylist()
        if len(ids) >= self.MAX_GIANTS:
            # the limit truncated the list: convs past the cap silently
            # take the whole-conv path, so the skew guarantee degrades
            logging.getLogger(__name__).warning(
                "giant-conv list hit MAX_GIANTS=%d; longest-span convs "
                "beyond the cap fall back to the whole-conv path",
                self.MAX_GIANTS,
            )
        return sorted(ids)

    # -- readers ---------------------------------------------------------

    def _live_files(self, tier: str) -> list[str] | None:
        """Data files of each bucket's committed generation, resolved
        through the manifest (the Iceberg read model: the catalog — not
        the directory listing — decides what a snapshot contains). A ""
        generation (pre-gen manifest rows) accepts every file in the
        bucket. Returns None when the manifest has no rows for the tier
        (out-of-band tables): callers fall back to a plain directory
        read."""
        gens = self.store.live_generations(tier)
        if not gens:
            return None
        root = self.tier_path(tier)
        files: list[str] = []
        for b, gen in gens.items():
            prefix = os.path.join(root, f"bucket={b}")
            tag = f"part-g{gen}-"
            for f in self.storage.list_files(prefix):
                if not gen or os.path.basename(f).startswith(tag):
                    files.append(f)
        return files

    def read_tier(self, tier: str) -> DataFrame:
        """One tier, projected to its column set (the slot/agg/pack files
        share the union schema; untouched columns are never read). Files
        are resolved through the manifest so stale generations from
        superseded commits are invisible without any physical delete."""
        files = self._live_files(tier)
        if files is None:
            return self.spark.read.parquet(self.tier_path(tier)).select(
                *TIER_COLS[tier]
            )
        if not files:
            # zero committed rows: empty frame with the tier's schema
            kind = {v: k for k, v in fused.TIER_OF_KIND.items()}[tier]
            empty = fused._KIND_PA[kind].empty_table()
            return self.spark.createDataFrame(empty).select(*TIER_COLS[tier])
        return (
            self.spark.read.option("basePath", self.table_path)
            .parquet(*files)
            .select(*TIER_COLS[tier])
        )

    def read_agg(self, tier: str) -> DataFrame:
        return self.read_tier("agg").where(F.col("tier") == tier)

    def vacuum(self) -> int:
        """Delete data files that no live generation owns (superseded or
        never-committed writes) — the Iceberg expire-snapshots analog.
        Never required for correctness (readers are manifest-driven);
        run out-of-band to reclaim space. Returns files deleted."""
        deleted = 0
        for tier, rk in TIER_DIRS.items():
            gens = self.store.live_generations(tier)
            if not gens:
                # mirror read_tier's directory-read fallback: a tier with
                # no manifest rows is an out-of-band table the manifest
                # does not govern — never reclaim what we don't own
                continue
            root = os.path.join(self.table_path, rk)
            for f in self.storage.list_files(root):
                bucket = None
                for part in f.split(os.sep):
                    if part.startswith("bucket="):
                        bucket = int(part.split("=", 1)[1])
                gen = gens.get(bucket)
                base = os.path.basename(f)
                if gen is None or (gen and not base.startswith(f"part-g{gen}-")):
                    self.storage.delete_file(f)
                    deleted += 1
        return deleted
