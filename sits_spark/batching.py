"""Arrow-native conv-batched execution for the grouped kernel stages.

``applyInPandas`` pays per-group overhead (one pandas frame + one Python
call per group) and ``mapInPandas`` still round-trips Arrow -> pandas ->
Arrow with block consolidation. With ~10^5-10^6 conversations, both
dominate the numpy kernels. The engine instead range-partitions by
conv_id, sorts within partitions by (conv_id, slot), and processes raw
``pyarrow.RecordBatch``es in ``mapInArrow`` — columns pulled into numpy
once per batch, conversations sliced by numpy boundaries, outputs
assembled back into RecordBatches zero-copy where possible.

A batch can end mid-conversation, so the iterator holds back the tail conv
and prepends it to the next batch (carry-remainder pattern).

Per-conversation kernel math is IDENTICAL to the oracle's (elementwise
row-independent kernels, canonical order), so byte-exactness is unaffected
— only batching changes. This mirrors the reference's blockwise execution
(many pixels per C++ call, /root/reference/src/reduce_fns.cpp) rather than
its one-closure-per-group R path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa


def _to_numpy(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_struct(col.type):
        # an object array of dicts of exact Python scalars (to_numpy would
        # route nullable int fields through float64); NULL rows are None
        out = np.full(len(col), None, dtype=object)
        valid = np.flatnonzero(col.is_valid().to_numpy(zero_copy_only=False))
        out[valid] = col.take(valid).to_pylist()
        return out
    return col.to_numpy(zero_copy_only=False)


def arrow_conv_batches(
    it: Iterator[pa.RecordBatch], key: str | tuple[str, ...] = "conv_id"
) -> Iterator[dict[str, np.ndarray]]:
    """Re-chunk an iterator of key-sorted RecordBatches into dict-of-numpy
    tables containing only complete key groups. ``key`` is one column or
    a tuple of columns that together form the group key."""
    keys = (key,) if isinstance(key, str) else key
    buf: dict[str, np.ndarray] | None = None
    names: list[str] | None = None
    for rb in it:
        if names is None:
            names = rb.schema.names
        tbl = {n: _to_numpy(rb.column(i)) for i, n in enumerate(names)}
        if buf is not None:
            tbl = {n: np.concatenate([buf[n], tbl[n]]) for n in names}
            buf = None
        if len(tbl[keys[0]]) == 0:
            continue
        # hold back the trailing key RUN (keys are run-contiguous but not
        # necessarily globally sorted — e.g. sorted by (bucket, conv_id))
        neq = np.zeros(len(tbl[keys[0]]), dtype=bool)
        for k in keys:
            neq |= tbl[k] != tbl[k][-1]
        cut = int(neq.nonzero()[0][-1]) + 1 if neq.any() else 0
        buf = {n: v[cut:] for n, v in tbl.items()}
        if cut:
            yield {n: v[:cut] for n, v in tbl.items()}
    if buf is not None and len(buf[keys[0]]):
        yield buf


def conv_bounds(cid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, bounds) of contiguous key runs in a sorted key column."""
    _, starts = np.unique(cid, return_index=True)
    starts = np.sort(starts)
    return starts, np.append(starts, len(cid))


_PA_TYPES = {
    "string": pa.string(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "boolean": pa.bool_(),
    "long": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "binary": pa.binary(),
    "date": pa.date32(),
}


def schema_of(ddl: str) -> pa.Schema:
    """Arrow schema for a Spark DDL column list (the subset we use)."""
    fields = []
    for part in ddl.split(","):
        name, typ = part.strip().split(" ")
        fields.append(pa.field(name, _PA_TYPES[typ]))
    return pa.schema(fields)


def record_batch(
    data: dict[str, np.ndarray | list], schema: pa.Schema, length: int | None = None
) -> pa.RecordBatch:
    """Build a RecordBatch from numpy columns (zero-copy for numerics).

    Timestamp columns are passed as int64 epoch MICROseconds. Schema
    fields absent from ``data`` (or None) become all-null columns —
    used by union-schema multi-output stages."""
    arrays = []
    for field in schema:
        col = data.get(field.name)
        if col is None:
            if length is None:
                raise ValueError("length required for all-null columns")
            arrays.append(pa.nulls(length, field.type))
        elif pa.types.is_timestamp(field.type):
            arrays.append(pa.array(np.asarray(col, dtype=np.int64), type=field.type))
        else:
            arrays.append(pa.array(col, type=field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)
