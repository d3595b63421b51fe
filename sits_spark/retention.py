"""Retention: per-tier partition expiry + manifest pruning.

The retention half of the rollup+downsample+retention design: raw detail
ages out quickly while coarser tiers live longer (classic tiered
downsampling — e.g. keep tier_1m 7 days, agg 1h/1d for months). With an
Iceberg catalog this is `expireSnapshots` + partition-predicate deletes;
in the parquet-compatible layout it is directory-level deletion of whole
partitions plus a manifest note, which stays metadata-only — the same
observation that lets the reference drop whole image files rather than
rewrite rasters (file-level manifests,
/root/reference/R/api_file_info.R:67-85).

Partitions come at each tier's grain: ``day=`` for tier_1m, ``month=``
for agg and packed_1h. A partition is deleted once its LAST day is
before the cutoff, so a month partition stays while any of its days is
inside the keep window — the coarse tiers may hold up to a month more
than their policy asks, never less.

Expiry is driven by a WATERMARK date (the newest day present), not
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


def _month_last(first: dt.date) -> dt.date:
    """Last day of the calendar month starting at ``first``."""
    return (first.replace(day=28) + dt.timedelta(days=4)).replace(day=1) - dt.timedelta(days=1)


def _partitions(tier_path: str) -> list[tuple[str, dt.date, dt.date]]:
    """(path, first day, last day) of every partition under a tier: a
    ``day=`` partition covers its day, a ``month=`` partition (its first
    day) the whole calendar month."""
    out = []
    if not os.path.isdir(tier_path):
        return out
    for bucket_dir in os.listdir(tier_path):
        if not bucket_dir.startswith("bucket="):
            continue
        bpath = os.path.join(tier_path, bucket_dir)
        for part_dir in os.listdir(bpath):
            grain, _, value = part_dir.partition("=")
            if grain not in ("day", "month"):
                continue
            first = dt.date.fromisoformat(value)
            last = first if grain == "day" else _month_last(first)
            out.append((os.path.join(bpath, part_dir), first, last))
    return out


def tier_watermark(tier_path: str) -> dt.date | None:
    """Newest day known present in a tier (metadata only): a month
    partition vouches only for its first day."""
    return max((first for _p, first, _last in _partitions(tier_path)), default=None)


def expire_tier(
    tier_path: str,
    keep_days: int,
    watermark: dt.date | None = None,
    storage=None,
) -> list[str]:
    """Delete the partitions whose LAST day is older than ``watermark -
    keep_days``: a day partition goes once its day has expired, a month
    partition only once every day of the month has, so a month with any
    day inside the keep window survives whole.

    Returns the deleted partition paths. Deletion is a partition-
    predicate drop (no data rewrite), routed through the storage backend
    — a prefix delete, i.e. list + per-object DELETE on an object
    store."""
    from .storage import LocalFsStorage

    storage = storage or LocalFsStorage()
    parts = _partitions(tier_path)
    if not parts:
        return []
    wm = watermark or tier_watermark(tier_path)
    cutoff = wm - dt.timedelta(days=keep_days)
    deleted = []
    for path, _first, last in parts:
        if last < cutoff:
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
