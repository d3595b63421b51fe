"""Unit tests for the arrow-native conv-batching machinery (pure python)."""

import numpy as np
import pyarrow as pa
import pytest

from sits_spark.batching import arrow_conv_batches, conv_bounds, record_batch, schema_of


def _rb(convs, vals):
    return pa.RecordBatch.from_arrays(
        [pa.array(convs, pa.string()), pa.array(vals, pa.int64())],
        names=["conv_id", "v"],
    )


def _collect(batches):
    out = []
    for tbl in arrow_conv_batches(iter(batches)):
        out.append((list(tbl["conv_id"]), list(tbl["v"])))
    return out


def _assert_whole_convs(got, want_convs, want_vals):
    # rows preserved in order, and no conv appears in two chunks
    assert [v for _, vs in got for v in vs] == want_vals
    assert [c for cs, _ in got for c in cs] == want_convs
    seen = set()
    for cs, _ in got:
        for c in set(cs):
            assert c not in seen, f"conv {c} split across chunks"
            seen.add(c)


def test_batch_boundary_mid_conv():
    # conv b straddles two record batches -> must be reunited in one chunk
    b1 = _rb(["a", "a", "b"], [1, 2, 3])
    b2 = _rb(["b", "c"], [4, 5])
    _assert_whole_convs(_collect([b1, b2]), ["a", "a", "b", "b", "c"], [1, 2, 3, 4, 5])


def test_conv_spanning_three_batches():
    b1 = _rb(["a", "b"], [1, 2])
    b2 = _rb(["b", "b"], [3, 4])
    b3 = _rb(["b", "c"], [5, 6])
    _assert_whole_convs(
        _collect([b1, b2, b3]), ["a"] + ["b"] * 4 + ["c"], [1, 2, 3, 4, 5, 6]
    )



def test_composite_key_keeps_groups_whole_not_convs():
    # key (conv_id, chunk): a (conv, chunk) group is never cut, but one
    # conversation's chunks may land in different yielded tables
    def rb(convs, chunks):
        return pa.RecordBatch.from_arrays(
            [pa.array(convs, pa.string()), pa.array(chunks, pa.int64())],
            names=["conv_id", "chunk"],
        )

    batches = [rb(["a", "g", "g"], [0, 5, 5]), rb(["g", "g", "g"], [5, 6, 6]), rb(["g"], [7])]
    got = [
        list(zip(t["conv_id"], t["chunk"]))
        for t in arrow_conv_batches(iter(batches), key=("conv_id", "chunk"))
    ]
    assert got == [[("a", 0)], [("g", 5)] * 3, [("g", 6)] * 2, [("g", 7)]]


def test_single_conv_single_batch():
    got = _collect([_rb(["x", "x"], [1, 2])])
    assert got == [(["x", "x"], [1, 2])]


def test_empty_batches_skipped():
    got = _collect([_rb([], []), _rb(["a"], [1]), _rb([], [])])
    assert got == [(["a"], [1])]


def test_rows_never_lost_or_duplicated():
    rng = np.random.default_rng(0)
    convs = np.sort(np.array([f"c{i:03d}" for i in rng.integers(0, 40, 500)]))
    vals = np.arange(500)
    # arbitrary chunking
    cuts = sorted(rng.choice(np.arange(1, 500), 7, replace=False))
    pieces = np.split(np.arange(500), cuts)
    batches = [_rb(list(convs[p]), list(vals[p])) for p in pieces]
    got = _collect(batches)
    all_convs = [c for g in got for c in g[0]]
    all_vals = [v for g in got for v in g[1]]
    assert all_vals == list(range(500))
    assert all_convs == list(convs)
    # every yielded chunk contains only complete convs
    seen = set()
    for g_convs, _ in got:
        for c in set(g_convs):
            assert c not in seen
            seen.add(c)


def test_conv_bounds():
    cid = np.array(["a", "a", "b", "c", "c", "c"], dtype=object)
    starts, bounds = conv_bounds(cid)
    assert list(starts) == [0, 2, 3]
    assert list(bounds) == [0, 2, 3, 6]


def test_record_batch_nulls_and_timestamps():
    schema = schema_of("a string, t timestamp, x double, b binary")
    rb = record_batch(
        {"a": ["p", "q"], "t": np.array([1_000_000, 2_000_000], dtype=np.int64)},
        schema,
        length=2,
    )
    assert rb.num_rows == 2
    assert rb.column(2).null_count == 2
    assert rb.column(3).null_count == 2
    assert rb.column(1)[0].value == 1_000_000


def test_record_batch_requires_length_for_nulls():
    schema = schema_of("a string, x double")
    with pytest.raises(ValueError):
        record_batch({"a": ["p"]}, schema)
