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
    explode giant rows into chunk + halo copies, union the stored anchor
    rows (one per giant (conv, chunk)) ->
  range-partition by (bucket, conv_id, chunk) + sort (1 exchange) ->
  grid/fill/smooth/rollup/pack fused mapInArrow (whole convs: flat
    kernel; giant chunks: chunk kernel) ->
  partitioned write (row_kind, bucket, day) for tier_1m,
    (row_kind, bucket, month) for agg and packed_1h

The giants and their anchor rows are a pure function of the input, so
the pre-scan that finds them (``_giant_convs``) computes both once per
(input fingerprint, threshold) — like LMFAO's batch of aggregates over
one pass of the data — and stores them as one object under
``stats_dir``. The write plan reads them back as a small declared-schema
scan, cut to the action's buckets, so it holds one scan of the input and
no window function; without giants it holds no anchor scan either.

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

Resume: each group's write commits one manifest row per (tier, bucket),
recording the warehouse's bucket count (fixed at its first commit, as
Iceberg fixes ``bucket[N]`` in a partition spec).
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
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifest as mf
from . import storage as store_mod
from .operators import chunk_split, fused, regularize
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
        n_buckets: int | None = None,
        giant_span_chunks: int | None = 2,
        storage=None,
        stats_dir: str | None = None,
    ):
        """``giant_span_chunks``: conversations spanning more than this
        many 8-day chunks are cut into per-(conv, chunk) units of work
        (operators.chunk_split) inside the one write stream instead of
        staying whole in one task — one pathological years-long
        conversation otherwise pins a core and holds its full grid in one
        task. ``None`` disables the split (and its pre-scan).

        ``n_buckets``: the conv hash bucket count, fixed when the
        warehouse is first written and recorded in its manifest. None
        takes the recorded count (``manifest.N_BUCKETS`` for an empty
        warehouse); a count that differs from the recorded one is a
        ValueError."""
        self.spark = spark
        self.warehouse = warehouse
        self.range_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.giant_span_chunks = giant_span_chunks
        self.table_path = os.path.join(warehouse, "tiers")
        self.storage = storage or store_mod.LocalFsStorage()
        self.store = mf.ManifestStore(
            spark, warehouse, storage=self.storage, n_buckets=n_buckets
        )
        self.n_buckets = self.store.n_buckets
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

    def _in_buckets(self, df: DataFrame | None, buckets: list[int]):
        """``df`` cut to the conversations hashing into ``buckets``."""
        if df is None or len(buckets) == self.n_buckets:
            return df
        return df.where(mf.bucket_expr(n_buckets=self.n_buckets).isin(buckets))

    def _write(self, observed, giants: list[str], anchors, tiers, with_pack, gen=""):
        """The write action's lazy stats DataFrame: ONE fused_write over
        every conversation. The giants (the driver-held ``_giant_convs``
        list) are tagged by a broadcast join, not split off by a filter,
        so the slot aggregation, the range exchange and the kernel all
        run once; the tag cuts each giant into per-(conv, chunk) units of
        work inside that one stream, and ``anchors`` (their stored
        anchor rows, cut to ``observed``'s buckets) are unioned in. A join
        rather than a literal ``isin``: on a 4-core host, planning the
        write with an In list took 1.4 s at 1k ids, 9.8 s at 10k and
        ~100 s at 100k; the join's plan holds no id literals, and planning
        it did not grow with the list."""
        split = None
        if giants:
            # from Arrow, decoded in the JVM: a DataFrame made from a
            # Python list is decoded by a second pool of Python workers
            # (~0.5 GB more resident memory on a 4-core pass)
            import pyarrow as pa

            split = (self.spark.createDataFrame(pa.table({"conv_id": giants})), anchors)
        return fused.fused_write(
            observed, self.table_path, tiers, self.range_partitions,
            with_pack=with_pack, gen=gen, split=split, n_buckets=self.n_buckets,
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

        giants, anchors = self._giant_convs(
            raw, lambda: regularize.observed_slots(raw), fp
        )

        for group in groups:
            gen = store_mod.new_generation()
            stats = self._write(
                regularize.observed_slots(self._in_buckets(raw, group)),
                giants, self._in_buckets(anchors, group), tiers, with_pack, gen,
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

        giants, anchors = self._giant_convs(
            obs_all.select("conv_id", F.col("slot_s").cast("timestamp").alias("ts")),
            lambda: obs_all,
            fp,
        )
        gen = store_mod.new_generation()
        stats = self._write(
            self._in_buckets(obs_all, missing), giants,
            self._in_buckets(anchors, missing), tiers, with_pack, gen,
        )
        self._commit_group(stats, missing, fp, run_id, tier_names, gen)
        return out

    # driver-side bound on the stored anchors, one row per giant chunk:
    # the longest-span giants are split until their chunks reach it, the
    # rest stay on the whole-conv path, which is always correct, just less
    # parallel. 300k rows is what the earlier bound of 100k giant ids
    # covered at the fewest chunks a default giant spans (3), ~30 MB of
    # Arrow on the driver.
    MAX_GIANT_CHUNKS = 300_000

    def _giant_convs(
        self, conv_ts: DataFrame, obs: Callable[[], DataFrame], fp: str
    ) -> tuple[list[str], DataFrame | None]:
        """The giants — conv_ids spanning more than ``giant_span_chunks``
        chunks — and their anchor rows (``chunk_split.ANCHOR_SCHEMA``).

        The pre-scan runs once per (input fingerprint, threshold): the
        extents read ONLY (conv_id, ts) of ``conv_ts``, and the anchors
        are ``chunk_split._anchor_rows`` over the giants' rows of
        ``obs()`` (the observed slots of the same input, planned only when
        the pre-scan runs). Both publish as ONE parquet object under
        ``stats_dir``, so every later pass, resume and checkpoint group
        reads the ids with pyarrow and the anchors as a declared-schema
        scan, with no Spark job and no second input scan in its write
        plan. Returns ([], None) when there are no
        giants (or the split is disabled): the run then takes the
        unmodified fast path."""
        if self.giant_span_chunks is None:
            return [], None
        import pyarrow.parquet as pq

        # cache key includes the threshold: a rerun with a different
        # giant_span_chunks must not reuse a stale id list. The object sits
        # under a "_" prefix (hidden from table listings) but is not named
        # "_*" itself: Spark skips such a file even when named explicitly.
        # Not under "_giants-<fp>-c<n>": earlier versions wrote an id-only
        # FILE there, which would shadow a directory of that name
        path = os.path.join(
            self.stats_dir, f"_anchors-{fp}-c{self.giant_span_chunks}",
            "anchors.parquet",
        )
        if not self.storage.exists(path):
            self._store_giants(conv_ts, obs(), path)
        table = pq.read_table(path, columns=["conv_id"])
        if table.schema.metadata and table.schema.metadata.get(b"capped") == b"1":
            # convs past the cap silently take the whole-conv path, so
            # the skew guarantee degrades
            logging.getLogger(__name__).warning(
                "giant-conv anchors hit MAX_GIANT_CHUNKS=%d; longest-span "
                "convs beyond the cap fall back to the whole-conv path",
                self.MAX_GIANT_CHUNKS,
            )
        ids: list[str] = sorted(set(table["conv_id"].to_pylist()))
        if not ids:
            return [], None
        anchors = self.spark.read.schema(chunk_split.ANCHOR_SCHEMA).parquet(path)
        return ids, anchors

    def _store_giants(self, conv_ts: DataFrame, obs: DataFrame, path: str) -> None:
        """Run the giant pre-scan and publish its result at ``path``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        cap = self.MAX_GIANT_CHUNKS
        ts_s = F.col("ts").cast("timestamp").cast("long")
        span = F.col("hi") - F.col("lo")
        chunk_of = chunk_split._chunk_of
        n_chunks = chunk_of(F.col("hi")) - chunk_of(F.col("lo")) + 1
        # every giant has >= 1 chunk, so cap + 1 longest ones decide the cut
        ext = (
            conv_ts.select("conv_id", ts_s.alias("s"))
            .groupBy("conv_id")
            .agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
            .where(span > self.giant_span_chunks * chunk_split.CHUNK_SEC)
            .orderBy(span.desc(), "conv_id")
            .limit(cap + 1)
            .select("conv_id", n_chunks.alias("n_chunks"))
            .toArrow()
        )
        total = np.cumsum(ext["n_chunks"].to_numpy())
        keep = int(np.searchsorted(total, cap, "right"))
        ids = ext.select(["conv_id"]).slice(0, keep)
        if keep:
            giant_obs = obs.join(
                F.broadcast(self.spark.createDataFrame(ids)), "conv_id", "left_semi"
            )
            table = chunk_split._anchor_rows(giant_obs).toArrow()
        else:
            table = pa.table({"conv_id": pa.array([], pa.string())})
        table = table.replace_schema_metadata(
            {"capped": "1" if keep < ext.num_rows else "0"}
        )
        # driver-bounded (<= cap rows), so it publishes as ONE atomic
        # object put — no temp dir, no rename: a run killed mid-write
        # leaves nothing behind that a later run could misread as "no
        # giants"
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        self.storage.put_atomic(path, sink.getvalue().to_pybytes())

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
