"""Retention: per-tier partition expiry + manifest pruning.

The retention half of the rollup+downsample+retention design: raw detail
ages out quickly while coarser tiers live longer (classic tiered
downsampling — e.g. keep tier_1m 7 days, agg 1h/1d for months). With an
Iceberg catalog this is `expireSnapshots` + partition-predicate deletes;
in the parquet-compatible layout it is directory-level deletion of whole
``day=...`` partitions plus a manifest note, which stays metadata-only —
the same observation that lets the reference drop whole image files
rather than rewrite rasters (file-level manifests,
/root/reference/R/api_file_info.R:67-85).

Expiry is driven by a WATERMARK date (the max day present), not
wall-clock, so runs are deterministic and testable.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import SparkSession

DEFAULT_POLICY: dict[str, int] = {
    # tier -> keep this many days back from the watermark (inclusive)
    "tier_1m": 7,
    "packed_1h": 30,
    "agg": 365,
}


def _tier_root(warehouse: str, tier: str) -> str:
    """A tier name's directory in the unified layout
    (<warehouse>/tiers/row_kind=X)."""
    from .pipeline import TIER_DIRS

    return os.path.join(warehouse, "tiers", TIER_DIRS[tier])


def _day_partitions(tier_path: str) -> list[tuple[str, dt.date]]:
    """All (path, day) partitions under a (bucket, day)-laid-out tier."""
    out = []
    if not os.path.isdir(tier_path):
        return out
    for bucket_dir in os.listdir(tier_path):
        if not bucket_dir.startswith("bucket="):
            continue
        bpath = os.path.join(tier_path, bucket_dir)
        for day_dir in os.listdir(bpath):
            if not day_dir.startswith("day="):
                continue
            day = dt.date.fromisoformat(day_dir.split("=", 1)[1])
            out.append((os.path.join(bpath, day_dir), day))
    return out


def tier_watermark(tier_path: str) -> dt.date | None:
    """Newest day present in a tier (metadata only)."""
    parts = _day_partitions(tier_path)
    return max((d for _p, d in parts), default=None)


def expire_tier(
    tier_path: str,
    keep_days: int,
    watermark: dt.date | None = None,
    storage=None,
) -> list[str]:
    """Delete day partitions older than ``watermark - keep_days``.

    Returns the deleted partition paths. Deletion is a partition-
    predicate drop (no data rewrite), routed through the storage backend
    — a prefix delete, i.e. list + per-object DELETE on an object
    store."""
    from .storage import LocalFsStorage

    storage = storage or LocalFsStorage()
    parts = _day_partitions(tier_path)
    if not parts:
        return []
    wm = watermark or max(d for _p, d in parts)
    cutoff = wm - dt.timedelta(days=keep_days)
    deleted = []
    for path, day in parts:
        if day < cutoff:
            storage.delete_prefix(path)
            deleted.append(path)
    return deleted


def apply_retention(
    warehouse: str,
    policy: dict[str, int] | None = None,
    watermark: dt.date | None = None,
) -> dict[str, list[str]]:
    """Apply the retention policy to every tier in a warehouse."""
    policy = policy or DEFAULT_POLICY
    out: dict[str, list[str]] = {}
    # one shared watermark across tiers so relative ages stay consistent
    wm = watermark
    if wm is None:
        wms = [
            w
            for t in policy
            if (w := tier_watermark(_tier_root(warehouse, t))) is not None
        ]
        if not wms:
            return {t: [] for t in policy}
        wm = max(wms)
    for tier, keep in policy.items():
        out[tier] = expire_tier(_tier_root(warehouse, tier), keep, wm)
    return out


def vacuum_manifest(spark: SparkSession, warehouse: str, keep_fingerprints: set[str]) -> int:
    """Drop manifest commits whose input fingerprint is no longer current.

    Returns the number of commit files removed. (Iceberg analog:
    expireSnapshots.)"""
    import pyarrow.parquet as pq

    path = os.path.join(warehouse, "_manifest")
    if not os.path.isdir(path):
        return 0
    removed = 0
    for f in list(os.listdir(path)):
        if not f.endswith(".parquet") or f.startswith("."):
            continue
        fp_col = pq.read_table(os.path.join(path, f), columns=["input_fingerprint"])
        fps = set(fp_col.column(0).to_pylist())
        if fps and fps.isdisjoint(keep_fingerprints):
            os.remove(os.path.join(path, f))
            removed += 1
    return removed
