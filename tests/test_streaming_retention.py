"""Streaming ingestion vs batch equality; retention expiry; manifest vacuum.

Backs the claims in sits_spark.streaming / sits_spark.retention docstrings:
the streaming observed-slot aggregation must equal the batch aggregation
for every window the watermark has closed, retention must drop exactly the
partitions whose last day is older than the policy cutoff (a day
partition's day, a month partition's last day), and vacuum must remove
manifests of superseded fingerprints only.
"""

import datetime as dt
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from sits_spark import fixtures, retention, streaming
from sits_spark import manifest as mf
from sits_spark.operators import regularize
from sits_spark.pipeline import RollupPipeline


@pytest.fixture(scope="module")
def raw_pdf():
    return fixtures.gen_transcripts(60, seed=11, hot_turns=800)


@pytest.fixture(scope="module")
def input_path(spark, raw_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sin") / "transcripts")
    spark.createDataFrame(raw_pdf).write.parquet(path)
    return path


def _assert_tiers_equal(pipe_a, pipe_b):
    """Every tier of two warehouses holds the same rows, floats bitwise."""
    for tier in ("tier_1m", "agg", "packed_1h"):
        a = pipe_a.read_tier(tier).toPandas()
        b = pipe_b.read_tier(tier).toPandas()
        keys = ["conv_id", "slot_start" if tier == "tier_1m" else "window_start"]
        a = a.sort_values(keys).reset_index(drop=True)
        b = b.sort_values(keys).reset_index(drop=True)
        assert a.columns.tolist() == b.columns.tolist() and len(a) == len(b) > 0
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype == np.float64:
                assert np.array_equal(
                    av.view(np.uint64), bv.view(np.uint64)
                ), (tier, c)
            else:
                assert np.array_equal(av, bv), (tier, c)


@pytest.fixture(scope="module")
def sink(spark, input_path, tmp_path_factory):
    """Run the sink (stream -> bucketed observed slots) to completion;
    return its output path and the last slot the watermark closed."""
    out = str(tmp_path_factory.mktemp("s_out"))
    ckpt = str(tmp_path_factory.mktemp("s_ckpt"))
    schema = spark.read.parquet(input_path).schema
    stream = spark.readStream.schema(schema).parquet(input_path)
    slots = streaming.observed_slots_stream(stream, watermark="10 minutes")
    q = streaming.start_observed_sink(slots, out, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode only emits windows the final watermark has passed;
    # the tests compare the common closed prefix
    max_emitted = spark.read.parquet(out).agg(F.max("slot_s")).collect()[0][0]
    assert max_emitted is not None, "stream emitted no closed windows"
    return out, max_emitted


def _closed_batch_slots(spark, input_path, max_emitted):
    slots = regularize.observed_slots(spark.read.parquet(input_path))
    return slots.where(F.col("slot_s") <= max_emitted)


def test_stream_observed_slots_equal_batch(spark, input_path, sink):
    """The sink's observed slots equal the batch aggregation for every
    window the watermark closed."""
    out, max_emitted = sink
    got = spark.read.parquet(out)
    # the input listing is the set of files Spark reads from the sink
    assert len(mf.input_listing(out)) == len(got.inputFiles()) > 0
    closed = _closed_batch_slots(spark, input_path, max_emitted)
    g = got.orderBy("conv_id", "slot_s").toPandas()
    w = closed.orderBy("conv_id", "slot_s").toPandas()
    assert len(g) == len(w) and len(g) > 0
    for c in w.columns:
        assert np.array_equal(g[c].to_numpy(), w[c].to_numpy()), c


def test_stream_1h_cascade_equals_batch(spark, input_path, sink, tmp_path_factory):
    """The stream's 1m -> 1h cascade (the sink, then ``run_from_observed``
    over its output, ``bucket=N/`` plus ``_spark_metadata/``) gives the
    tiers of the batch slots cut to the same closed prefix, and its 1h
    sums equal the batch re-aggregation of those slots per hour."""
    out, max_emitted = sink
    closed = _closed_batch_slots(spark, input_path, max_emitted)
    obs_path = str(tmp_path_factory.mktemp("s_obs") / "observed")
    closed.write.parquet(obs_path)
    pipe_s = RollupPipeline(spark, str(tmp_path_factory.mktemp("s_wh")))
    pipe_s.run_from_observed(out, run_id="sink-1")
    pipe_b = RollupPipeline(spark, str(tmp_path_factory.mktemp("b_wh")))
    pipe_b.run_from_observed(obs_path, run_id="batch-1")
    _assert_tiers_equal(pipe_s, pipe_b)

    sums = ("n_turns", "tokens_user", "tokens_assistant", "tokens_tool", "tool_calls")
    want = (
        closed.groupBy(
            "conv_id", (F.floor(F.col("slot_s") / 3600) * 3600).alias("hour_s")
        )
        .agg(*[F.sum(c).alias(c) for c in sums])
        .orderBy("conv_id", "hour_s")
        .toPandas()
    )
    got = (
        pipe_s.read_agg("1h")
        .where(F.col("n_turns") > 0)
        .select(
            "conv_id",
            F.unix_timestamp("window_start").alias("hour_s"),
            *sums,
        )
        .orderBy("conv_id", "hour_s")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_retention_expires_old_day_partitions(spark, input_path, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("r_wh"))
    pipe = RollupPipeline(spark, wh)
    pipe.run(input_path, run_id="r1")
    t1m_root = retention._tier_root(wh, "tier_1m")
    before = retention._partitions(t1m_root)
    assert before, "tier_1m has day partitions"
    wm = retention.tier_watermark(t1m_root)

    deleted = retention.apply_retention(
        wh, policy={"tier_1m": 7, "packed_1h": 30, "agg": 365}, watermark=wm
    )
    cutoff = wm - dt.timedelta(days=7)
    # exactly the pre-cutoff partitions are gone
    want_deleted = sorted(p for p, _first, last in before if last < cutoff)
    assert sorted(deleted["tier_1m"]) == want_deleted
    remaining = retention._partitions(t1m_root)
    assert all(last >= cutoff for _p, _first, last in remaining)
    # agg keeps everything at 365 days
    assert deleted["agg"] == []
    # the expired tier still reads cleanly
    if remaining:
        assert pipe.read_tier("tier_1m").count() > 0


def _fake_partitions(root, grain, values):
    for b in (0, 5):
        for v in values:
            d = root / f"bucket={b}" / f"{grain}={v}"
            d.mkdir(parents=True)
            (d / "part-0.parquet").write_bytes(b"x")


def test_month_partition_expires_after_its_last_day(tmp_path):
    """A month partition is deleted only once its LAST day is before the
    cutoff: a month with any day inside the keep window survives whole."""
    agg = tmp_path / "tiers" / "row_kind=agg"
    _fake_partitions(agg, "month", ("2024-01-01", "2024-02-01", "2024-03-01"))
    # a month vouches only for its first day
    assert retention.tier_watermark(str(agg)) == dt.date(2024, 3, 1)

    # cutoff 2024-02-29 = February's last day (leap year): February stays
    deleted = retention.expire_tier(str(agg), 10, watermark=dt.date(2024, 3, 10))
    assert sorted(os.path.basename(p) for p in deleted) == ["month=2024-01-01"] * 2
    # one day later February's last day is before the cutoff
    deleted = retention.expire_tier(str(agg), 10, watermark=dt.date(2024, 3, 11))
    assert sorted(os.path.basename(p) for p in deleted) == ["month=2024-02-01"] * 2
    assert {os.path.basename(p) for p, _f, _l in retention._partitions(str(agg))} == {
        "month=2024-03-01"
    }

    # apply_retention: the day tier sets the shared watermark (2024-03-10)
    t1m = tmp_path / "tiers" / "row_kind=slot"
    _fake_partitions(t1m, "day", [f"2024-03-{d:02d}" for d in range(1, 11)])
    _fake_partitions(agg, "month", ("2023-12-01", "2024-01-01"))
    deleted = retention.apply_retention(str(tmp_path), policy={"tier_1m": 7, "agg": 40})
    assert sorted(os.path.basename(p) for p in deleted["tier_1m"]) == (
        ["day=2024-03-01"] * 2 + ["day=2024-03-02"] * 2
    )
    # agg cutoff 2024-01-30: December goes, January (last day 01-31) stays
    assert sorted(os.path.basename(p) for p in deleted["agg"]) == ["month=2023-12-01"] * 2


def test_vacuum_manifest_drops_stale_fingerprints(spark, input_path, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("v_wh"))
    pipe = RollupPipeline(spark, wh)
    pipe.run(input_path, run_id="v1")
    fp1 = mf.input_fingerprint(input_path)
    # fake an older generation
    pipe.store.commit([("tier_1m", 0, "deadbeef", 1, "old-run")])
    removed = retention.vacuum_manifest(spark, wh, keep_fingerprints={fp1})
    assert removed == 1
    assert pipe.store.committed_buckets("tier_1m", "deadbeef") == set()
    assert len(pipe.store.committed_buckets("tier_1m", fp1)) == mf.N_BUCKETS


def test_detect_change_stream_equals_batch(spark, tmp_path_factory):
    """Stateful streaming bayts (applyInPandasWithState) must agree with
    the batch operator on flagged keys and first-flag position, and must
    carry state ACROSS micro-batches (two ordered input files)."""
    from sits_spark import api

    rows = []
    for key, jump in (("calm", None), ("shift", 4), ("late", 6), ("nulls", 5)):
        for i in range(16):
            v = 0.0 if (jump is None or i < jump) else 5.0
            # NULL values in both micro-batches are skipped by both
            rows.append((key, i, None if key == "nulls" and i in (6, 7, 9) else v))
    pdf_a = [r for r in rows if r[1] < 8]
    pdf_b = [r for r in rows if r[1] >= 8]
    src = str(tmp_path_factory.mktemp("dcs") / "in")
    os.makedirs(src)
    schema = "key string, ts long, v double"
    spark.createDataFrame(pdf_a, schema).coalesce(1).write.parquet(os.path.join(src, "batch=0"))
    spark.createDataFrame(pdf_b, schema).coalesce(1).write.parquet(os.path.join(src, "batch=1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch=*")
    )
    out = streaming.detect_change_stream(
        stream, "key", "ts", "v", 0.0, 1.0, 5.0, 1.0, tau=2.0
    )
    ckpt = str(tmp_path_factory.mktemp("dcs_ck"))
    q = (
        out.writeStream.format("memory")
        .queryName("dcs_result")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.sql("SELECT * FROM dcs_result").toPandas()
    # update mode emits one row per key per batch; flagged and
    # first_flag_ts are monotone once set, so aggregate over batches
    got = emitted.groupby("key").agg(
        flagged=("flagged", "any"),
        first_flag_ts=("first_flag_ts", "max"),
        cum_llr_fp=("cum_llr_fp", "max"),
    )
    batch = api.detect_change(
        spark.createDataFrame(rows, schema), ["key"], ["ts"], "v",
        0.0, 1.0, 5.0, 1.0, tau=2.0,
    ).toPandas()
    want = batch.set_index("key")
    assert "calm" not in want.index and not bool(got.loc["calm", "flagged"])
    for k in ("shift", "late", "nulls"):
        assert bool(got.loc[k, "flagged"])
        assert int(got.loc[k, "first_flag_ts"]) == int(want.loc[k, "first_ts"]), k
        # the sums only rise after the jump, so the last state is the
        # batch's largest flagged sum: the integer chains agree exactly
        assert int(got.loc[k, "cum_llr_fp"]) == int(want.loc[k, "max_cum_llr_fp"]), k


def test_compaction_from_observed_equals_raw_pipeline(spark, input_path, tmp_path_factory):
    """run_from_observed over a persisted observed-slot table (the
    streaming sink's layout) must produce byte-identical tiers to the
    raw-input pipeline — together with the stream-vs-batch observed
    equality above, this closes the stream -> tiers loop."""
    wh_a = str(tmp_path_factory.mktemp("cwa"))
    pipe_a = RollupPipeline(spark, wh_a)
    pipe_a.run(input_path, run_id="raw-1")

    obs_path = str(tmp_path_factory.mktemp("cobs") / "observed")
    regularize.observed_slots(spark.read.parquet(input_path)).write.parquet(obs_path)
    wh_b = str(tmp_path_factory.mktemp("cwb"))
    pipe_b = RollupPipeline(spark, wh_b)
    pipe_b.run_from_observed(obs_path, run_id="compact-1")

    _assert_tiers_equal(pipe_a, pipe_b)

    # resume: an immediate re-compaction is a no-op
    pipe_b.run_from_observed(obs_path, run_id="compact-2")
    import pyarrow.parquet as pq
    import glob as _glob
    runs = {
        r
        for f in _glob.glob(os.path.join(wh_b, "_manifest", "*.parquet"))
        for r in pq.read_table(f)["run_id"].to_pylist()
    }
    assert "compact-2" not in runs
