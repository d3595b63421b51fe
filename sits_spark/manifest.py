"""Checkpoint/lineage manifests + resume.

Re-expresses the reference's resume-from-partial-output pattern — skip jobs
whose outputs already exist, recompute only the missing set
(`.gc_missing_tiles` convergence loop, /root/reference/R/api_gdalcubes.R:506-660;
recovery checks /root/reference/R/api_regularize.R:134-144,
R/api_apply.R:64-79) — without the directory-rescan loop: each completed
unit of work commits one manifest row, and a restarted job anti-joins its
planned units against committed rows.

Unit of work = one conv_id hash **bucket** (the Spark analog of a sits
tile): a conversation's whole series lives in exactly one bucket, so
recomputing a bucket is self-contained (smoothing never crosses buckets).
Output files are additionally laid out by day for partition pruning, but
the day axis is not a resume unit (a conv's grid spans days).

Manifest row: (tier, bucket, input_fingerprint, row_count, run_id, seq,
gen, n_buckets). ``input_fingerprint`` stands in for an Iceberg
snapshot-id in the parquet fallback layout (SURVEY.md §7 hard part 3): a
hash of the input file listing (names + sizes), so a changed input
invalidates old checkpoints without scanning data. ``n_buckets`` records
the bucket count the warehouse was written with — Iceberg fixes
``bucket[N]`` in the table's partition spec the same way — so a later run
cannot commit buckets of another hash modulus next to live ones.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "tier string, bucket int, input_fingerprint string, row_count long, "
    "run_id string, seq long, gen string, n_buckets int"
)

# Resume/commit granularity (Iceberg bucket(conv_id) stand-in) of a new
# warehouse. Write parallelism is the fused stage's task count, not the
# bucket count, so buckets size only the resume unit and the file fan-out:
# each write task writes one tier_1m file per (bucket, day) it touches. At 64
# those files averaged ~4.7 KB and file-system metadata, not encoding, set
# the writer's time (336 partitions of 12k rows: 0.26 s; 16: 0.018 s); 16,
# 8 and 4 buckets gave the same pass wall, so 16 keeps the finest resume
# unit at that speed. A 100 TB deployment would raise it (256-1024) via
# RollupPipeline(n_buckets=...) when the warehouse is first written.
N_BUCKETS = 16
# the count of every warehouse whose manifest predates the n_buckets column
LEGACY_N_BUCKETS = 64


def bucket_expr(conv_col: str = "conv_id", n_buckets: int = N_BUCKETS):
    """Deterministic conv bucket — Iceberg-style bucket(conv_id) stand-in."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


def _sink_committed(path: str) -> set[str] | None:
    """Base names of the data files that the ``_spark_metadata`` log of a
    streaming file sink's output at ``path`` has committed (the files
    Spark reads there), or None when ``path`` holds no such log."""
    log = os.path.join(path, "_spark_metadata")
    if not os.path.isdir(log):
        return None
    names = set()
    for f in os.listdir(log):
        if f.startswith("."):  # checksums, in-flight temp files
            continue
        try:
            with open(os.path.join(log, f)) as fh:
                names.update(
                    json.loads(line)["path"].rsplit("/", 1)[-1]
                    for line in fh
                    if line.startswith("{")
                )
        except FileNotFoundError:  # removed by the log's own cleanup
            pass
    return names


def input_listing(path: str) -> list[tuple[str, int, int]]:
    """Sorted (relpath, size, mtime_ns) of the data files under ``path``;
    a file path lists itself by its own name. Files named ``_*`` or
    ``.*`` (commit markers, checksums) are skipped, and so are the
    directories Spark's own listing skips: ``.*``, and ``_*`` without a
    ``=`` (a file sink's ``_spark_metadata`` log, whose compaction
    changes no data). In a file sink's output only the files its log has
    committed are listed: the sink writes a batch's files before the
    batch's log entry, and Spark reads none of them until that entry
    lands, which then changes the listing. The one walker behind
    ``input_fingerprint`` and ``session.read_parquet``'s schema memo."""
    if os.path.isfile(path):
        st = os.stat(path)
        return [(os.path.basename(path), st.st_size, st.st_mtime_ns)]
    committed = _sink_committed(path)
    entries = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [
            d for d in dirs
            if not (d.startswith(".") or (d.startswith("_") and "=" not in d))
        ]
        for f in files:
            if f.startswith(("_", ".")) or (committed is not None and f not in committed):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            entries.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return sorted(entries)


def input_fingerprint(path: str) -> str:
    """Metadata-only input identity: md5 over the sorted (relpath, size)
    listing. The parquet-mode stand-in for an Iceberg snapshot-id."""
    lines = sorted(f"{rel}:{size}" for rel, size, _mtime in input_listing(path))
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class ManifestStore:
    """Append-only manifest table under ``<warehouse>/_manifest``.

    Manifest rows are driver-side metadata (one row per committed conv
    bucket), so reads/writes go through pyarrow directly — zero Spark
    jobs. The layout stays plain parquet, readable by Spark/DuckDB.

    Writer discipline: ONE writer per warehouse at a time (the driver of
    the running pipeline). Concurrent readers are always safe (files are
    immutable once published); concurrent WRITERS from separate store
    instances can allocate the same seq (scan-then-increment is not
    locked), which the equal-seq tie-breaker below resolves
    deterministically by preferring the tombstone — conservative: the
    bucket reads as missing and gets recomputed rather than serving
    possibly-mixed output.

    ``n_buckets`` is the warehouse's bucket count: None takes the count
    its manifest records (``N_BUCKETS`` for an empty warehouse); an
    explicit count that differs from the recorded one is a ValueError, so
    no run commits buckets of another hash modulus next to live ones.
    Every row this store writes, tombstones included, records it."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        storage=None,
        n_buckets: int | None = None,
    ):
        from .storage import LocalFsStorage

        self.spark = spark
        self.storage = storage or LocalFsStorage()
        self.path = os.path.join(warehouse, "_manifest")
        # incremental max-seq cache: only files not yet seen are read on
        # the next commit, so sequences stay correct even when ANOTHER
        # store instance wrote to the same warehouse in between (e.g. a
        # second pipeline object), at amortized O(new files) cost
        self._max_seq = 0
        self._seen_files: set[str] = set()
        recorded = self._recorded_n_buckets()
        if n_buckets is not None and recorded is not None and n_buckets != recorded:
            raise ValueError(
                f"n_buckets={n_buckets} conflicts with the {recorded} buckets "
                f"recorded in {self.path}; open this warehouse with "
                f"n_buckets={recorded} or None"
            )
        self.n_buckets = n_buckets or recorded or N_BUCKETS

    def _recorded_n_buckets(self) -> int | None:
        """The bucket count of the newest manifest row; rows written
        before the count was recorded read as ``LEGACY_N_BUCKETS``. None
        for a warehouse with no manifest rows."""
        newest: tuple[int, int] | None = None
        for t in self._read_all():
            n = t.num_rows
            seqs = t["seq"].to_pylist() if "seq" in t.column_names else [0] * n
            counts = (
                t["n_buckets"].to_pylist() if "n_buckets" in t.column_names
                else [None] * n
            )
            for sq, nb in zip(seqs, counts):
                if newest is None or (sq or 0) >= newest[0]:
                    newest = (sq or 0, nb or LEGACY_N_BUCKETS)
        return None if newest is None else newest[1]

    def _read_all(self):
        import pyarrow.parquet as pq

        if not os.path.isdir(self.path):
            return []
        tables = []
        for f in sorted(os.listdir(self.path)):
            if f.endswith(".parquet") and not f.startswith("."):
                tables.append(pq.read_table(os.path.join(self.path, f)))
        return tables

    def committed_buckets(self, tier: str, fingerprint: str) -> set[int]:
        """Buckets whose LATEST manifest row (max seq) is a live commit.

        A tombstone (row_count == -1) written by ``invalidate`` before a
        bucket is rewritten supersedes earlier commits, so a run killed
        between the invalidate and the re-commit leaves the bucket
        visibly missing instead of silently claiming a half-written
        generation. Equal seq (possible only under the unsupported
        concurrent-writer case) resolves to the tombstone."""
        return {
            b
            for b, (_sq, rc, _gen) in self._latest(tier, fingerprint).items()
            if rc >= 0
        }

    def _latest(
        self, tier: str, fingerprint: str | None
    ) -> dict[int, tuple[int, int, str]]:
        """Latest (seq, row_count, gen) per bucket for a tier; with
        ``fingerprint=None`` rows of every fingerprint compete (the read
        path: newest commit wins regardless of input version)."""
        latest: dict[int, tuple[int, int, str]] = {}
        for t in self._read_all():
            d = t.to_pydict()
            n = len(d["tier"])
            seqs = d.get("seq") or [0] * n
            gens = d.get("gen") or [""] * n
            for tt, b, fpv, rc, sq, gen in zip(
                d["tier"], d["bucket"], d["input_fingerprint"], d["row_count"],
                seqs, gens,
            ):
                if tt != tier:
                    continue
                if fingerprint is not None and fpv != fingerprint:
                    continue
                sq = sq or 0
                cur = latest.get(b)
                if (
                    cur is None
                    or sq > cur[0]
                    # equal-seq tie: tombstone wins, deterministically
                    or (sq == cur[0] and rc < 0)
                ):
                    latest[b] = (sq, rc, gen or "")
        return latest

    def live_generations(self, tier: str) -> dict[int, str]:
        """bucket -> generation token of its newest LIVE commit (any
        fingerprint) — what the manifest-driven read path serves. A ""
        generation (pre-gen manifests) means "every file in the bucket
        directory belongs"."""
        return {
            b: gen
            for b, (_sq, rc, gen) in self._latest(tier, None).items()
            if rc >= 0
        }

    def _next_seq(self) -> int:
        """Next commit sequence = 1 + max over all manifest files, with
        per-file results cached: each file's seq column is read once per
        store instance, so repeated commits don't re-scan the directory
        but concurrent-instance commits are still observed."""
        import pyarrow.parquet as pq

        if os.path.isdir(self.path):
            for f in os.listdir(self.path):
                if (
                    f.endswith(".parquet")
                    and not f.startswith(".")
                    and f not in self._seen_files
                ):
                    self._seen_files.add(f)
                    try:
                        col = pq.read_table(
                            os.path.join(self.path, f), columns=["seq"]
                        )["seq"].to_pylist()
                    except Exception:
                        col = []  # pre-seq manifest file -> seq 0
                    if col:
                        self._max_seq = max(
                            self._max_seq, max(s or 0 for s in col)
                        )
        self._max_seq += 1
        return self._max_seq

    def commit(
        self,
        rows: list[tuple[str, int, str, int, str]],
        seq: int | None = None,
        gen: str = "",
    ) -> None:
        if not rows:
            return
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        if seq is None:
            seq = self._next_seq()
        table = pa.table(
            {
                "tier": [r[0] for r in rows],
                "bucket": pa.array([r[1] for r in rows], pa.int32()),
                "input_fingerprint": [r[2] for r in rows],
                "row_count": pa.array([r[3] for r in rows], pa.int64()),
                "run_id": [r[4] for r in rows],
                "seq": pa.array([seq] * len(rows), pa.int64()),
                "gen": [gen] * len(rows),
                "n_buckets": pa.array([self.n_buckets] * len(rows), pa.int32()),
            }
        )
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        # atomic single-object publish (PUT semantics): readers never see
        # a partial manifest file on any backend
        name = f"commit-{uuid.uuid4().hex}.parquet"
        self.storage.put_atomic(
            os.path.join(self.path, name), sink.getvalue().to_pybytes()
        )
        # our own file needs no re-read on the next _next_seq scan
        self._seen_files.add(name)
        self._max_seq = max(self._max_seq, seq)

    def invalidate(
        self, tiers: list[str], buckets: list[int], fingerprint: str, run_id: str
    ) -> None:
        """Tombstone (tier, bucket) rows under ``fingerprint`` BEFORE they
        are rewritten (row_count = -1, superseding seq)."""
        self.commit(
            [(t, b, fingerprint, -1, run_id) for t in tiers for b in buckets]
        )

    def plan_missing(
        self, tier: str, fingerprint: str, n_buckets: int | None = None
    ) -> list[int]:
        """Planned buckets (default: the warehouse's) minus committed
        ones (the anti-join)."""
        done = self.committed_buckets(tier, fingerprint)
        return [b for b in range(n_buckets or self.n_buckets) if b not in done]


def footer_counts(tier_path: str) -> dict[int, int]:
    """Per-bucket row counts from parquet FOOTERS only (no Spark job, no
    data scan) — the metadata-only stand-in for Iceberg's per-partition
    statistics. Serial ``pq.read_metadata`` is ~0.05 ms/file; a thread
    pool is measurably SLOWER here (GIL contention on tmpfs metadata)."""
    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    for root, _dirs, files in os.walk(tier_path):
        bucket = None
        for part in root.split(os.sep):
            if part.startswith("bucket="):
                bucket = int(part.split("=", 1)[1])
        if bucket is None:
            continue
        for f in files:
            if f.endswith(".parquet"):
                n = pq.read_metadata(os.path.join(root, f)).num_rows
                counts[bucket] = counts.get(bucket, 0) + n
    return counts
