"""PartitionedWriter: deterministic file bytes and per-tier partition grain.

A task retry overwrites its files by name, so the same batches must give
the same bytes; agg and pack files are laid out by month, slot files by
day, and a month file's rows are sorted by window_start."""

import os

import numpy as np
import pyarrow.parquet as pq

from sits_spark.operators import fused

DAY_S = 86400


def _batches(kind: str, n_batches: int = 40, rows: int = 400):
    """Deterministic kernel-shaped batches over many (bucket, day) pairs,
    each batch's window_start descending so the writer has to sort."""
    rng = np.random.default_rng(3)
    out = []
    for i in range(n_batches):
        day = rng.integers(19_700, 19_790, rows).astype(np.int32)
        ts = np.sort(day.astype(np.int64) * DAY_S + rng.integers(0, DAY_S, rows))[::-1]
        day = (ts // DAY_S).astype(np.int32)
        data = {
            "conv_id": np.array([f"c{i}-{j % 7}" for j in range(rows)], dtype=object),
            "bucket": rng.integers(0, 24, rows).astype(np.int32),
            "day": day,
        }
        if kind == "slot":
            data["slot_start"] = ts * 1_000_000
            data["alen_whit"] = rng.normal(size=rows)
        else:
            data["window_start"] = ts * 1_000_000
            data["tier"] = np.full(rows, "1h", dtype=object)
            data["alen_mean"] = rng.normal(size=rows)
        out.append(data)
    return out


def _write(root: str, kind: str) -> dict[str, bytes]:
    writer = fused.PartitionedWriter(root, pid=3, gen="g1")
    for data in _batches(kind):
        writer.add(kind, data, len(data["day"]))
    writer.stats_batch()
    files = {}
    for d, _sub, names in os.walk(root):
        for f in names:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                files[os.path.relpath(path, root)] = fh.read()
    return files


def test_same_batches_give_byte_identical_files(tmp_path):
    for kind in ("slot", "agg"):
        first = _write(str(tmp_path / f"{kind}-a"), kind)
        second = _write(str(tmp_path / f"{kind}-b"), kind)
        assert len(first) > 50, kind
        assert first.keys() == second.keys(), kind
        differ = [p for p in first if first[p] != second[p]]
        assert not differ, (kind, len(differ))


def test_partition_grain_and_month_order(tmp_path):
    root = str(tmp_path)
    for kind in ("slot", "agg"):
        writer = fused.PartitionedWriter(root, pid=0)
        for data in _batches(kind, n_batches=3):
            writer.add(kind, data, len(data["day"]))
        writer.stats_batch()
    slot_parts = {os.path.basename(d) for d, _s, f in os.walk(os.path.join(root, "row_kind=slot")) if f}
    agg_parts = {os.path.basename(d) for d, _s, f in os.walk(os.path.join(root, "row_kind=agg")) if f}
    assert slot_parts and all(p.startswith("day=") for p in slot_parts)
    assert agg_parts and all(p.startswith("month=") and p.endswith("-01") for p in agg_parts)
    # 90 days span 3-4 calendar months
    assert 3 <= len(agg_parts) <= 4, agg_parts
    for d, _s, names in os.walk(os.path.join(root, "row_kind=agg")):
        for f in names:
            ws = pq.read_table(os.path.join(d, f), columns=["window_start"]).column(0)
            vals = ws.cast("int64").to_numpy()
            assert np.all(np.diff(vals) >= 0), f
            month = os.path.basename(d).split("=", 1)[1]
            assert str(ws[0].as_py().date())[:7] == month[:7]
