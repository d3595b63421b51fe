"""Chunked-smoothing semantics (SURVEY.md §7 hard part 2).

A conversation crossing a CHUNK_SLOTS boundary is smoothed in fixed
epoch-aligned chunks with overlap+crop (engine_core.smooth_conv). These
tests pin the semantics: SG is BIT-exact vs the unchunked solve, the
chunked Whittaker deviates only near chunk boundaries within a tight
bound, all band_pipeline variants agree bit-exactly with each other, and
chunk boundaries are invariant to where the conversation starts."""

import numpy as np
import pytest

from sits_spark import engine_core, kernels


def _series(n, seed=0, gap_frac=0.2):
    rng = np.random.default_rng(seed)
    x = np.cumsum(rng.normal(0, 1.0, n)) + 50.0
    x[rng.random(n) < gap_frac] = np.nan
    x[0] = 42.0  # ensure an observed endpoint
    x[-1] = 43.0
    return x


def test_chunk_bounds_epoch_aligned():
    C = engine_core.CHUNK_SLOTS
    b = engine_core.chunk_bounds(lo_idx=C - 10, t=3 * C)
    # cuts at absolute multiples of C -> relative 10, C+10, 2C+10
    assert list(b) == [0, 10, C + 10, 2 * C + 10, 3 * C]


def test_short_conv_unchunked_bit_exact():
    # grid fully inside one chunk -> unchunked solve, bit-exact
    n = engine_core.CHUNK_SLOTS - 200
    filled = kernels.linear_interp_mtx(_series(n).reshape(1, -1))
    sg, whit = engine_core.smooth_conv(filled[0], lo_idx=100)
    want_sg = kernels.smooth_sg_mtx(filled)[0]
    want_whit = kernels.smooth_whit_mtx(filled)[0]
    assert np.array_equal(sg, want_sg)
    assert np.array_equal(whit, want_whit)


def test_long_conv_sg_bit_exact_whit_bounded():
    n = engine_core.CHUNK_SLOTS * 3 + 777
    filled = kernels.linear_interp_mtx(_series(n, seed=1).reshape(1, -1))
    sg, whit = engine_core.smooth_conv(filled[0], lo_idx=98765)
    # SG: FIR radius 2 << overlap 64 -> chunked result is bit-identical
    want_sg = kernels.smooth_sg_mtx(filled)[0]
    assert np.array_equal(sg, want_sg)
    # Whittaker: chunk-local solve deviates only near boundaries, tightly
    want_whit = kernels.smooth_whit_mtx(filled)[0]
    rel = np.abs(whit - want_whit) / (np.abs(want_whit) + 1e-9)
    assert rel.max() < 1e-6, rel.max()
    # interior of chunks is essentially exact
    assert np.median(rel) < 1e-12


def test_band_pipeline_variants_agree_on_long_conv():
    n = engine_core.CHUNK_SLOTS * 2 + 123
    lo_idx = 7_000_011
    alen = _series(n, seed=2)
    _f1, sg1, whit1 = engine_core.band_pipeline(alen.reshape(1, -1), lo_idx)
    gb = np.array([0, n], dtype=np.int64)
    _f3, sg3, whit3, _fl3 = engine_core.band_pipeline_flat(
        alen.copy(), gb, np.array([lo_idx])
    )
    assert np.array_equal(sg1[0], sg3)
    assert np.array_equal(whit1[0], whit3)


def test_chunk_grid_is_absolute_not_conv_relative():
    """Two convs with identical values but different absolute starts must
    cut at the same ABSOLUTE slots (deterministic under resume/split)."""
    C = engine_core.CHUNK_SLOTS
    n = 2 * C
    b1 = engine_core.chunk_bounds(0, n)
    b2 = engine_core.chunk_bounds(C // 2, n)
    assert b1[1] == C and b2[1] == C - C // 2


def test_flat_batch_mixed_short_and_long():
    lens = [500, engine_core.CHUNK_SLOTS + 999, 7, 1200]
    rows = [_series(n, seed=i) for i, n in enumerate(lens)]
    gb = np.concatenate([[0], np.cumsum(lens)])
    lo = np.array([10, 20_000, 99, 4])
    flat = np.concatenate(rows)
    f, sg, whit, fl = engine_core.band_pipeline_flat(flat.copy(), gb, lo)
    for i, r in enumerate(rows):
        _f1, sg1, whit1 = engine_core.band_pipeline(r.reshape(1, -1), int(lo[i]))
        a, b = gb[i], gb[i + 1]
        assert np.array_equal(sg[a:b], sg1[0]), i
        assert np.array_equal(whit[a:b], whit1[0]), i


def test_smooth_segments_matches_each_segment_alone():
    """Overlapping segments of any length and order, cropped: each crop
    equals the (1, T) SG and Whittaker solves of its segment, bit for bit."""
    filled = _series(3000, seed=5)
    filled[np.isnan(filled)] = 1.0
    seg = np.array([
        [0, 100, 2000, 150, 2990, 40],      # seg_lo
        [50, 1900, 3000, 1900, 2993, 44],   # seg_hi
        [10, 164, 2000, 150, 2990, 40],     # crop_lo
        [40, 1836, 2936, 1900, 2993, 44],   # crop_hi
    ])
    sg, whit = engine_core.smooth_segments(filled, *seg)
    at = 0
    for lo, hi, clo, chi in seg.T:
        row = filled[lo:hi].reshape(1, -1)
        n = chi - clo
        want_sg = kernels.smooth_sg_mtx(row)[0, clo - lo : chi - lo]
        want_whit = kernels.smooth_whit_mtx(row, engine_core.WHIT_LAMBDA)[0, clo - lo : chi - lo]
        assert np.array_equal(sg[at : at + n], want_sg)
        assert np.array_equal(whit[at : at + n], want_whit)
        at += n
    assert at == len(sg) == len(whit)


def test_engine_kernels_never_reach_the_oracle_solver(monkeypatch):
    """The flat and chunk kernels smooth through smooth_segments; only the
    oracle's smooth_conv calls smooth_whit_mtx, so the byte-match tests
    compare two independent solvers."""
    import inspect

    from sits_spark.operators import chunk_split

    def banned(*_a, **_k):
        raise AssertionError("smooth_whit_mtx reached from the engine path")

    monkeypatch.setattr(kernels, "smooth_whit_mtx", banned)
    lens = [500, 2 * engine_core.CHUNK_SLOTS + 999, 7]
    gb = np.concatenate([[0], np.cumsum(lens)])
    flat = np.concatenate([_series(n, seed=i) for i, n in enumerate(lens)])
    engine_core.band_pipeline_flat(flat, gb, np.array([10, 20_000, 99]))
    src = inspect.getsource(chunk_split)
    assert "smooth_sg" not in src and "smooth_whit" not in src


def test_pipeline_bytematch_with_chunked_conv(spark, tmp_path_factory):
    """Full Spark pipeline vs oracle on data containing a conversation
    long enough to take the chunked path — exercises the lo_idx plumbing
    through observed_slots -> mapInArrow -> tiers on both sides."""
    import pandas as pd
    from sits_spark import fixtures, oracle
    from sits_spark.pipeline import RollupPipeline

    # ~25k turns, ~70 s mean gap -> grid span comfortably > CHUNK_SLOTS
    pdf = fixtures.gen_transcripts(40, seed=9, hot_turns=25_000)
    golden = oracle.full_pipeline(pdf)
    span = golden["tier_1m"].groupby("conv_id").size().max()
    assert span > engine_core.CHUNK_SLOTS, "fixture must cross a chunk boundary"

    inp = str(tmp_path_factory.mktemp("ch_in") / "t")
    spark.createDataFrame(pdf).write.parquet(inp)
    wh = str(tmp_path_factory.mktemp("ch_wh"))
    pipe = RollupPipeline(spark, wh)
    pipe.run(inp, run_id="ch1")

    got = pipe.read_tier("tier_1m").toPandas()
    want = golden["tier_1m"]
    got = got.sort_values(["conv_id", "slot_start"]).reset_index(drop=True)
    want = want.sort_values(["conv_id", "slot_start"]).reset_index(drop=True)
    assert len(got) == len(want)
    for c in ("alen_sg", "alen_whit", "alen_filled"):
        a = got[c].to_numpy()
        b = want[c].to_numpy()
        assert np.array_equal(a.view(np.uint64), b.view(np.uint64)), c


def test_cross_task_chunk_split_byte_identical(spark, tmp_path_factory):
    """The production chunked writer (fused_write_chunked, forced for every
    multi-slot conversation by giant_span_chunks=0) distributes each
    conversation over (conv, chunk) tasks with halo + anchor rows — and
    its three tiers must be BYTE identical to the single-node oracle,
    including a 30k-turn boundary-crossing conv, an interior multi-chunk
    gap, and band-empty convs."""
    import pandas as pd
    from sits_spark import fixtures, oracle
    from sits_spark.pipeline import RollupPipeline
    from test_spark_pipeline import assert_frames_bitexact as bitexact

    pdf = fixtures.gen_transcripts(50, seed=13, hot_turns=30_000)
    # add a conv with a >2-chunk interior silent gap (stub-chunk path)
    base = np.datetime64("2025-01-01T00:00:00", "s")
    gap_rows = []
    for j, off in enumerate([0, 120, 240, engine_core.CHUNK_SLOTS * 3 * 60 + 60]):
        gap_rows.append(("conv-big-gap", j, "assistant", f"gap turn {j} xx", None,
                         base + np.timedelta64(off, "s")))
    gap = pd.DataFrame(gap_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    gap["turn_idx"] = gap["turn_idx"].astype("int32")
    pdf = pd.concat([pdf, gap], ignore_index=True)
    golden = oracle.full_pipeline(pdf)
    assert (golden["tier_1m"]["fill_flag"] == "empty").any(), "fixture needs band-empty convs"

    inp = str(tmp_path_factory.mktemp("cs_in") / "t")
    spark.createDataFrame(pdf).write.parquet(inp)
    wh = str(tmp_path_factory.mktemp("cs_wh"))
    pipe = RollupPipeline(spark, wh, giant_span_chunks=0)
    pipe.run(inp, run_id="cs1")

    bitexact(pipe.read_tier("tier_1m").toPandas(), golden["tier_1m"], ["conv_id", "slot_start"])
    agg = pipe.read_tier("agg").toPandas()
    for tier in ("1h", "1d"):
        got = agg[agg["tier"] == tier].drop(columns="tier")
        bitexact(got, golden[f"agg_{tier}"], ["conv_id", "window_start"])
    pk = pipe.read_tier("packed_1h").toPandas()
    pk["ts_d2"] = pk["ts_d2"].apply(bytes)
    pk["vals_gorilla"] = pk["vals_gorilla"].apply(bytes)
    bitexact(pk, golden["packed_1h"], ["conv_id", "window_start"])


def test_split_stream_keeps_int64_measures_exact(spark, tmp_path_factory):
    """Anchor rows share Arrow batches with data rows; their measures are
    0, not NULL, so no int column takes the float64 path (exact only
    below 2**53). A split conversation and a whole one, in one batch,
    keep a token count of 2**53 + 1 (resp. + 3) exact in tier_1m and in
    the 1h sum."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from sits_spark import manifest as mf
    from sits_spark.pipeline import RollupPipeline

    big = 2**53
    b = 2512 * engine_core.CHUNK_SLOTS * 60  # a chunk (and hour) boundary
    slots = list(range(b - 3600, b + 3600, 60))
    n = len(slots) + 1
    cols = {
        "conv_id": ["big"] * len(slots) + ["tiny"],
        "slot_s": slots + [b],
        "n_turns": [1] * n,
        "tokens_user": [big + 1 if s == b + 120 else 0 for s in slots] + [big + 3],
        "tokens_assistant": [2] * n,
        "tokens_tool": [0] * n,
        "tool_calls": [0] * n,
        "alen_sum": [(s // 60) % 97 for s in slots] + [5],
        "alen_n": [1] * n,
    }
    obs_path = str(tmp_path_factory.mktemp("exact_obs"))
    pq.write_table(
        pa.table({k: pa.array(v, pa.string() if k == "conv_id" else pa.int64())
                  for k, v in cols.items()}),
        os.path.join(obs_path, "part-0.parquet"),
    )
    pipe = RollupPipeline(spark, str(tmp_path_factory.mktemp("exact_wh")), giant_span_chunks=0)
    obs = spark.read.parquet(obs_path)
    giants, _anchors = pipe._giant_convs(
        obs.select("conv_id", F.col("slot_s").cast("timestamp").alias("ts")),
        lambda: obs,
        mf.input_fingerprint(obs_path),
    )
    assert giants == ["big"]
    pipe.run_from_observed(obs_path, run_id="exact-1")

    want = [("big", big + 1), ("tiny", big + 3)]
    for df in (pipe.read_tier("tier_1m"), pipe.read_agg("1h")):
        got = df.where(F.col("tokens_user") > 2**52).select("conv_id", "tokens_user")
        assert sorted(tuple(r) for r in got.collect()) == want
