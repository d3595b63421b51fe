"""Distributed-vs-oracle byte-match: the correctness gate (BASELINE.md).

The Spark pipeline must reproduce the single-node oracle bit-for-bit at
every tier, per-turn text must round-trip byte-exactly under stable
(conv_id, turn_idx) order, the full-tier transcript registry queries must
equal the oracle too, and a killed-after-tier run must resume from
manifests to a byte-identical result."""

import os
import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sits_spark import fixtures, oracle
from sits_spark import manifest as mf
from sits_spark.operators import regularize
from sits_spark.pipeline import RollupPipeline

from conftest import jobs_in

N_CONVS = 120
SEED = 42


@pytest.fixture(scope="module")
def raw_pdf():
    return fixtures.gen_transcripts(N_CONVS, seed=SEED, hot_turns=1500)


@pytest.fixture(scope="module")
def golden(raw_pdf):
    return oracle.full_pipeline(raw_pdf)


@pytest.fixture(scope="module")
def input_path(spark, raw_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("input") / "transcripts")
    spark.createDataFrame(raw_pdf).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def warehouse(spark, input_path, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh") / "tiers")
    pipe = RollupPipeline(spark, wh)
    pipe.run(input_path, run_id="run-1")
    return wh


def assert_frames_bitexact(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]):
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype == np.float64:
            # bitwise equality, NaN == NaN
            assert np.array_equal(a.view(np.uint64), b.view(np.uint64)), c
        else:
            assert np.array_equal(a, b), c


def _spark_tier(spark, warehouse, tier):
    return RollupPipeline(spark, warehouse).read_tier(tier)


def test_tier_grain_and_day_scan(spark, warehouse, raw_pdf):
    """tier_1m is laid out by day, agg and packed_1h by month; a one-day
    scan of the month-partitioned 1d aggregates still returns that day's
    raw turn count."""
    import datetime as dt

    pipe = RollupPipeline(spark, warehouse)
    grains = {
        tier: {d.split("=", 1)[0] for _r, ds, _f in os.walk(pipe.tier_path(tier))
               for d in ds if not d.startswith("bucket=")}
        for tier in ("tier_1m", "agg", "packed_1h")
    }
    assert grains == {"tier_1m": {"day"}, "agg": {"month"}, "packed_1h": {"month"}}
    days = raw_pdf["ts"].dt.floor("D")
    day = days.value_counts().index[0]
    lit = F.lit(day.to_pydatetime().replace(tzinfo=dt.timezone.utc))
    got = (pipe.read_agg("1d").where(F.col("window_start") == lit)
           .agg(F.sum("n_turns").alias("t")).collect()[0]["t"])
    assert got == int((days == day).sum())


def test_text_roundtrip_byte_exact(spark, input_path, raw_pdf):
    back = (
        spark.read.parquet(input_path)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    want = raw_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert back["text"].tolist() == want["text"].tolist()
    assert back["conv_id"].tolist() == want["conv_id"].tolist()
    assert back["turn_idx"].tolist() == want["turn_idx"].tolist()


def test_tier_1m_bitexact(spark, warehouse, golden):
    got = _spark_tier(spark, warehouse, "tier_1m").toPandas()
    assert_frames_bitexact(got, golden["tier_1m"], ["conv_id", "slot_start"])


def test_agg_tiers_bitexact(spark, warehouse, golden):
    for tier in ("1h", "1d"):
        got = (
            _spark_tier(spark, warehouse, "agg")
            .where(F.col("tier") == tier)
            .drop("tier")
            .toPandas()
        )
        assert_frames_bitexact(got, golden[f"agg_{tier}"], ["conv_id", "window_start"])


def test_packed_bitexact(spark, warehouse, golden):
    got = _spark_tier(spark, warehouse, "packed_1h").toPandas()
    got["ts_d2"] = got["ts_d2"].apply(bytes)
    got["vals_gorilla"] = got["vals_gorilla"].apply(bytes)
    assert_frames_bitexact(got, golden["packed_1h"], ["conv_id", "window_start"])


def test_transcript_full_tier_queries_bitexact(spark):
    """The four rows-only transcript registry queries (fused_tiers union
    stream through its slot/agg/pack views) equal the single-node oracle
    bit for bit on the fixture they read."""
    from sits_spark import transcript_queries as tq

    pdf = fixtures.gen_transcripts(tq._N_CONVS, seed=tq._SEED, hot_turns=tq._HOT)
    want = oracle.full_pipeline(pdf)
    got = tq.transcript_tier_1m(spark, "").toPandas()
    assert_frames_bitexact(got, want["tier_1m"], ["conv_id", "slot_start"])
    for tier, query in (("1h", tq.transcript_agg_1h), ("1d", tq.transcript_agg_1d)):
        got = query(spark, "").toPandas()
        assert_frames_bitexact(got, want[f"agg_{tier}"], ["conv_id", "window_start"])
    got = tq.transcript_packed_1h(spark, "").toPandas()
    got["ts_d2"] = got["ts_d2"].apply(bytes)
    got["vals_gorilla"] = got["vals_gorilla"].apply(bytes)
    assert_frames_bitexact(got, want["packed_1h"], ["conv_id", "window_start"])


def test_empty_input_raises_value_error_naming_path(spark, tmp_path_factory):
    """An input directory with no parquet files fails with a ValueError
    that names it, from both entry points, before any manifest write."""
    empty = str(tmp_path_factory.mktemp("empty_in"))
    wh = str(tmp_path_factory.mktemp("whe") / "tiers")
    pipe = RollupPipeline(spark, wh)
    msg = re.escape(f"input path '{empty}' holds no parquet files")
    with pytest.raises(ValueError, match=msg):
        pipe.run(empty, run_id="e-1")
    with pytest.raises(ValueError, match=msg):
        pipe.run_from_observed(empty, run_id="e-2")
    assert not os.path.exists(os.path.join(wh, "_manifest"))


def test_resume_after_kill_is_byte_identical(spark, input_path, golden, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh2") / "tiers")
    # 64 buckets pinned: the group arithmetic below is over 64; the resume
    # (pipe2) takes the count the manifest recorded
    pipe = RollupPipeline(spark, wh, n_buckets=64)

    # kill the job between checkpoint-group writes (FIXTURES.md §3.9):
    # group 1 commits its buckets, then the run dies before group 2's
    # commit — the manifest must carry exactly the completed buckets
    calls = {"n": 0}
    real_commit = pipe.store.commit

    def flaky_commit(rows, **kw):
        # tombstones (row_count -1, written by ``invalidate``) go through
        # too; only the second generation commit is killed
        if rows[0][3] >= 0:
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected kill between checkpoint groups")
        real_commit(rows, **kw)

    pipe.store.commit = flaky_commit
    with pytest.raises(RuntimeError, match="injected kill"):
        pipe.run(input_path, run_id="run-1", checkpoint_groups=4)

    # resume: committed buckets skipped, missing ones recomputed
    pipe2 = RollupPipeline(spark, wh)
    pipe2.run(input_path, run_id="run-2")
    man = spark.read.schema(mf.MANIFEST_SCHEMA).parquet(os.path.join(wh, "_manifest")).toPandas()
    live = man[man.row_count >= 0]  # drop pre-rewrite tombstones
    done_first = set(live[live.run_id == "run-1"]["bucket"])
    done_second = set(live[live.run_id == "run-2"]["bucket"])
    assert done_first == set(range(16))  # first of 4 groups over 64 buckets
    assert done_second == set(range(16, 64))
    for tier in ("tier_1m", "agg", "packed_1h"):
        assert set(live[live.tier == tier]["bucket"]) == set(range(64))
    # the killed group's tombstones exist (and were superseded by run-2)
    assert set(man[(man.row_count < 0) & (man.run_id == "run-1")]["bucket"]) >= set(
        range(16, 32)
    )

    got = _spark_tier(spark, wh, "agg").where(F.col("tier") == "1h").drop("tier").toPandas()
    assert_frames_bitexact(got, golden["agg_1h"], ["conv_id", "window_start"])
    got1m = _spark_tier(spark, wh, "tier_1m").toPandas()
    assert_frames_bitexact(got1m, golden["tier_1m"], ["conv_id", "slot_start"])

    # idempotent re-run: nothing recomputed
    pipe2.run(input_path, run_id="run-3")
    man2 = spark.read.schema(mf.MANIFEST_SCHEMA).parquet(os.path.join(wh, "_manifest")).toPandas()
    assert "run-3" not in set(man2["run_id"])


def test_observed_slots_plan_is_partial_agg(spark, input_path):
    # the slot aggregation must show map-side partial aggregation
    # (HashAggregate before the exchange) and a pruned scan schema
    plan = regularize.observed_slots(
        spark.read.parquet(input_path)
    )._sc is None if False else regularize.observed_slots(
        spark.read.parquet(input_path)
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "turn_idx" not in plan.split("ReadSchema")[-1]  # column pruned


def test_giant_conv_chunked_write_byte_identical(spark, input_path, golden, tmp_path_factory):
    """Production chunked path (VERDICT r2 #2): with the giant threshold
    forced to 0 chunks, EVERY multi-slot conversation routes through
    fused_write_chunked's per-(conv, chunk) units of work — the result
    must still byte-match the single-node oracle at all three tiers."""
    wh = str(tmp_path_factory.mktemp("whg") / "tiers")
    pipe = RollupPipeline(spark, wh, giant_span_chunks=0)
    pipe.run(input_path, run_id="run-g")

    got = _spark_tier(spark, wh, "tier_1m").toPandas()
    assert_frames_bitexact(got, golden["tier_1m"], ["conv_id", "slot_start"])
    for tier in ("1h", "1d"):
        want = golden[f"agg_{tier}"]
        got = (
            _spark_tier(spark, wh, "agg")
            .where(F.col("tier") == tier)
            .drop("tier")
            .select(want.columns.tolist())
            .toPandas()
        )
        assert_frames_bitexact(got, want, ["conv_id", "window_start"])
    gotp = _spark_tier(spark, wh, "packed_1h").toPandas()
    assert_frames_bitexact(
        gotp.sort_values(["conv_id", "window_start"]).reset_index(drop=True),
        golden["packed_1h"].sort_values(["conv_id", "window_start"]).reset_index(drop=True),
        ["conv_id", "window_start"],
    )
    # the giant-id table was materialized once for reuse
    assert any(d.startswith("_anchors-") for d in os.listdir(wh))


def test_regularize_first_plan_is_one_pass_agg_no_window(spark):
    """min_by selection must compile to a one-pass aggregate with
    map-side partial aggregation (partial_min_by before the exchange)
    and NO window operator (VERDICT r2 #9). Spark plans struct-ordered
    min_by as a SortAggregate — the sort is on the grouping key within
    partitions; the win vs row_number is that the exchange carries one
    row per (key, day) per mapper instead of every event row."""
    from sits_spark.queries import ts_regularize_first

    plan = (
        ts_regularize_first(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_min_by" in plan
    assert "Window" not in plan


@pytest.fixture(scope="module")
def giant_input(spark, tmp_path_factory):
    """~25k turns, ~70 s mean gap: conv-hot-1 spans > 2 chunks (16 days)."""
    pdf = fixtures.gen_transcripts(40, seed=9, hot_turns=25_000)
    inp = str(tmp_path_factory.mktemp("giant_in") / "t")
    spark.createDataFrame(pdf).write.parquet(inp)
    return pdf, inp


def test_one_write_plan_splits_giant_across_tasks(spark, giant_input, tmp_path_factory):
    """Giants ride the same stream as every other conversation: on a
    fixture holding a multi-chunk giant, once the pre-scan is stored the
    write is ONE mapInArrow over ONE scan of the input (the anchors come
    from the stored object, so no Window node), the giant's slot rows
    come from one task per chunk, up to the task count (task ids read
    from the file names),
    and the tiers match the oracle. A changed input (new fingerprint)
    gets anchors of its own, not the stale ones."""
    import shutil

    import pyarrow.parquet as pq

    pdf, inp = giant_input
    wh = str(tmp_path_factory.mktemp("one_wh"))
    pipe = RollupPipeline(spark, wh)
    raw = spark.read.parquet(inp)
    obs = regularize.observed_slots(raw)
    giants, anchors = pipe._giant_convs(raw, lambda: obs, mf.input_fingerprint(inp))
    assert giants == ["conv-hot-1"], giants

    stats = pipe._write(obs, giants, anchors, ("1h", "1d"), True)
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    # the stored anchors are the one other scan: (conv_id, chunk, anchor)
    assert len([ln for ln in scans if "anchor#" not in ln]) == 1, plan
    assert "Window" not in plan, plan

    pipe.run(inp, run_id="one-1")
    golden = oracle.full_pipeline(pdf)
    assert_frames_bitexact(
        pipe.read_tier("tier_1m").toPandas(), golden["tier_1m"], ["conv_id", "slot_start"]
    )
    tasks = {
        _task_id(f)
        for f in pipe._live_files("tier_1m")
        if "conv-hot-1" in pq.read_table(f, columns=["conv_id"])["conv_id"].to_pylist()
    }
    # consecutive chunks go to consecutive tasks
    n_chunks = anchors.where(F.col("conv_id") == "conv-hot-1").count()
    assert n_chunks > 2
    assert len(tasks) == min(n_chunks, pipe.range_partitions), tasks

    # the giant grows by two days: its extent and its last chunks change
    inp2 = str(tmp_path_factory.mktemp("one_in2") / "t")
    shutil.copytree(inp, inp2)
    hot = pdf[pdf.conv_id == "conv-hot-1"]
    more = hot.tail(50).copy()
    more["ts"] = more["ts"] + pd.Timedelta(days=2)
    more["turn_idx"] = more["turn_idx"] + len(hot)
    spark.createDataFrame(more).coalesce(1).write.mode("append").parquet(inp2)
    pipe.run(inp2, run_id="one-2")
    assert len([d for d in os.listdir(wh) if d.startswith("_anchors-")]) == 2
    golden2 = oracle.full_pipeline(pd.concat([pdf, more], ignore_index=True))
    for tier, keys in (("tier_1m", ["conv_id", "slot_start"]),
                       ("packed_1h", ["conv_id", "window_start"])):
        got = pipe.read_tier(tier).toPandas()
        if tier == "packed_1h":
            for c in ("ts_d2", "vals_gorilla"):
                got[c] = got[c].apply(bytes)
        assert_frames_bitexact(got, golden2[tier], keys)


def test_giant_anchor_cap_keeps_longest_and_warns(
    spark, input_path, raw_pdf, golden, tmp_path_factory, caplog
):
    """The stored anchors are driver-bounded by MAX_GIANT_CHUNKS rows:
    the longest-span giants are split while their chunk total fits, the
    rest stay whole (and the tiers stay exact), and the cut is logged."""
    import logging

    from sits_spark.operators import chunk_split

    pipe = RollupPipeline(spark, str(tmp_path_factory.mktemp("cap_wh")), giant_span_chunks=0)
    pipe.MAX_GIANT_CHUNKS = 6
    s = raw_pdf["ts"].astype("datetime64[s]").astype("int64").groupby(raw_pdf["conv_id"])
    ext = pd.DataFrame({"lo": s.min(), "hi": s.max()}).reset_index()
    ext = ext[ext.hi > ext.lo].assign(span=lambda d: d.hi - d.lo)
    ext = ext.sort_values(["span", "conv_id"], ascending=[False, True])
    n = ext.hi // chunk_split.CHUNK_SEC - ext.lo // chunk_split.CHUNK_SEC + 1
    want = sorted(ext.conv_id[(n.cumsum() <= 6).to_numpy()])
    assert 0 < len(want) < len(ext)

    with caplog.at_level(logging.WARNING, logger="sits_spark.pipeline"):
        pipe.run(input_path, run_id="cap-1")
    assert "MAX_GIANT_CHUNKS=6" in caplog.text
    raw = spark.read.parquet(input_path)
    giants, anchors = pipe._giant_convs(
        raw, lambda: regularize.observed_slots(raw), mf.input_fingerprint(input_path)
    )
    assert giants == want
    assert anchors.count() <= 6
    for tier, keys in (("tier_1m", ["conv_id", "slot_start"]),
                       ("packed_1h", ["conv_id", "window_start"])):
        got = pipe.read_tier(tier).toPandas()
        if tier == "packed_1h":
            for c in ("ts_d2", "vals_gorilla"):
                got[c] = got[c].apply(bytes)
        assert_frames_bitexact(got, golden[tier], keys)


def _task_id(path: str) -> int:
    """The writing task's partition id, from a data file's name."""
    return int(re.search(r"part-g\w+?-(\d{5})-", os.path.basename(path)).group(1))


@pytest.fixture(scope="module")
def warm_pass(spark, giant_input, tmp_path_factory):
    """A warm pass on the giant fixture — a second ``run`` into a fresh
    warehouse, reusing the first run's stored anchors — as its pipeline
    and the Spark job ids it launched."""
    _pdf, inp = giant_input
    stats = str(tmp_path_factory.mktemp("warm_stats"))
    cold = RollupPipeline(spark, str(tmp_path_factory.mktemp("cold_wh")), stats_dir=stats)
    cold.run(inp, run_id="cold")
    pipe = RollupPipeline(spark, str(tmp_path_factory.mktemp("warm_wh")), stats_dir=stats)
    _, jobs = jobs_in(spark, lambda: pipe.run(inp, run_id="warm"))
    return pipe, jobs


def test_warm_pass_runs_four_jobs_and_no_range_exchange(
    spark, warm_pass, giant_input, input_path, warehouse, tmp_path_factory
):
    """The kernel stream is placed by a partition id computed from the
    bucket, and the write stats are summed on the driver: a warm pass
    runs 4 jobs (tag broadcast, scan + partial slot aggregation, the
    exchange's map stage, fused kernel + write), with no sample job for
    range bounds and no stats shuffle, and 3 on an input without giants
    (no tag broadcast)."""
    pipe, jobs = warm_pass
    assert len(jobs) == 4, jobs
    _pdf, inp = giant_input
    raw = spark.read.parquet(inp)
    obs = regularize.observed_slots(raw)
    giants, anchors = pipe._giant_convs(raw, lambda: obs, mf.input_fingerprint(inp))
    plan = (
        pipe._write(obs, giants, anchors, ("1h", "1d"), True)
        ._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "shufflepartitionidpassthrough" in plan, plan
    assert "rangepartitioning" not in plan, plan

    # the module warehouse's run stored this input's (empty) giant list
    plain = RollupPipeline(spark, str(tmp_path_factory.mktemp("plain_wh")), stats_dir=warehouse)
    _, jobs = jobs_in(spark, lambda: plain.run(input_path, run_id="warm"))
    assert len(jobs) == 3, jobs


def test_manifest_counts_equal_footers(warm_pass):
    """The driver-side sum of the per-task stats rows: every live manifest
    row counts exactly the rows its (tier, bucket) files hold — the
    giant's bucket gets stats rows from several tasks."""
    pipe, _jobs = warm_pass
    man = _manifest(pipe.warehouse)
    live = man[man.row_count >= 0]
    assert set(live.tier) == {"tier_1m", "agg", "packed_1h"}
    for tier, rows in live.groupby("tier"):
        footers = mf.footer_counts(pipe.tier_path(tier))
        assert sum(footers.values()) > 0
        for b, n in zip(rows.bucket, rows.row_count):
            assert n == footers.get(b, 0), (tier, b, n, footers.get(b))


def _tasks_by_bucket(files: list[str]) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for f in files:
        out.setdefault(int(re.search(r"bucket=(\d+)", f).group(1)), set()).add(_task_id(f))
    return out


def test_full_pass_places_each_bucket_in_one_task(spark, warehouse):
    """With the task count dividing the bucket count, each bucket's
    conversations all land in one task, bucket b in task b * n // k."""
    pipe = RollupPipeline(spark, warehouse)
    n, k = pipe.range_partitions, pipe.n_buckets
    assert k % n == 0 and k > n
    tasks = _tasks_by_bucket(pipe._live_files("tier_1m"))
    assert tasks == {b: {b * n // k} for b in range(k)}, tasks


def test_resume_of_two_buckets_uses_every_task(
    spark, input_path, golden, warehouse, tmp_path_factory
):
    """A resume writes only its lost buckets, yet shares all the tasks
    out over them: each of the 2 buckets spreads over n / 2 tasks."""
    pipe = RollupPipeline(
        spark, str(tmp_path_factory.mktemp("resume_wh")), stats_dir=warehouse
    )
    pipe.range_partitions = 4
    pipe.run(input_path, run_id="full")
    # the fixture's two largest buckets; each has conversations in both
    # halves of its hash range, so each half-bucket task gets rows
    lost = [5, 13]
    fp = mf.input_fingerprint(input_path)
    pipe.store.invalidate(["tier_1m", "agg", "packed_1h"], lost, fp, "kill")
    pipe.run(input_path, run_id="resume")
    man = _manifest(pipe.warehouse)
    [gen] = set(man[(man.run_id == "resume") & (man.row_count >= 0)]["gen"])
    files = [f for f in pipe._live_files("tier_1m") if f"part-g{gen}-" in f]
    assert set(_tasks_by_bucket(files)) == set(lost)
    assert {_task_id(f) for f in files} == {0, 1, 2, 3}
    _assert_tiers_bitexact(pipe, golden)


def _manifest(wh):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(wh, "_manifest")).to_pandas()


def _files_outside_their_action(pipe):
    """Data files under a bucket that the action (generation) which wrote
    them did not commit."""
    man = _manifest(pipe.warehouse)
    committed = man[man.row_count >= 0].groupby("gen")["bucket"].agg(set).to_dict()
    return [
        f for f in pipe.storage.list_files(pipe.table_path)
        if int(re.search(r"bucket=(\d+)", f).group(1))
        not in committed.get(re.search(r"part-g([0-9a-f]+)-", f).group(1), set())
    ]


def _assert_tiers_bitexact(pipe, golden):
    assert_frames_bitexact(
        pipe.read_tier("tier_1m").toPandas(), golden["tier_1m"], ["conv_id", "slot_start"]
    )
    agg = pipe.read_tier("agg").toPandas()
    for tier in ("1h", "1d"):
        got = agg[agg["tier"] == tier].drop(columns="tier")
        assert_frames_bitexact(got, golden[f"agg_{tier}"], ["conv_id", "window_start"])
    pk = pipe.read_tier("packed_1h").toPandas()
    for c in ("ts_d2", "vals_gorilla"):
        pk[c] = pk[c].apply(bytes)
    assert_frames_bitexact(pk, golden["packed_1h"], ["conv_id", "window_start"])


def test_stored_anchors_keep_to_the_write_buckets(spark, giant_input, tmp_path_factory):
    """Checkpoint groups and a resume read the stored anchors of every
    giant but must write only their own buckets: the tiers match the
    oracle and no action leaves a data file under a bucket it did not
    commit (an anchor of a giant in another bucket would emit a grid)."""
    pdf, inp = giant_input
    golden = oracle.full_pipeline(pdf)
    pipe = RollupPipeline(spark, str(tmp_path_factory.mktemp("grp_wh")))
    pipe.run(inp, run_id="grp-1", checkpoint_groups=2)
    man = _manifest(pipe.warehouse)
    assert len(set(man[man.row_count >= 0]["gen"])) == 2
    _assert_tiers_bitexact(pipe, golden)
    assert _files_outside_their_action(pipe) == []

    giant_bucket = (
        spark.createDataFrame([("conv-hot-1",)], "conv_id string")
        .select(mf.bucket_expr(n_buckets=pipe.n_buckets).alias("b")).first()["b"]
    )
    lost = [b for b in range(pipe.n_buckets) if b != giant_bucket][:3]
    fp = mf.input_fingerprint(inp)
    pipe.store.invalidate(["tier_1m", "agg", "packed_1h"], lost, fp, "kill")
    pipe.run(inp, run_id="grp-2")
    man = _manifest(pipe.warehouse)
    assert set(man[(man.run_id == "grp-2") & (man.row_count >= 0)]["bucket"]) == set(lost)
    _assert_tiers_bitexact(pipe, golden)
    assert _files_outside_their_action(pipe) == []


def test_n_buckets_round_trips_bitexact(spark, input_path, golden, tmp_path_factory):
    """A non-default bucket count buckets the write, the group filters
    and the manifest alike: every tier matches the oracle, and the
    manifest holds buckets 0-7 only, each row recording 8."""
    wh = str(tmp_path_factory.mktemp("nb8") / "tiers")
    pipe = RollupPipeline(spark, wh, n_buckets=8)
    pipe.run(input_path, run_id="nb-1", checkpoint_groups=2)
    _assert_tiers_bitexact(pipe, golden)
    man = _manifest(wh)
    assert set(man["bucket"]) == set(range(8))
    assert set(man["n_buckets"]) == {8}
    assert {d for _r, ds, _f in os.walk(pipe.table_path) for d in ds
            if d.startswith("bucket=")} == {f"bucket={b}" for b in range(8)}
    assert RollupPipeline(spark, wh).n_buckets == 8


def test_recorded_bucket_count_guards_and_legacy_resume(
    spark, input_path, golden, tmp_path_factory
):
    """A warehouse written before the bucket count was recorded: a
    manifest with no n_buckets column reads as 64, an explicit 16 is
    refused before any manifest write, and a default resume over it stays
    at 64 buckets and byte-identical. Such a warehouse also holds the
    earlier id-only giant list, a FILE named ``_giants-<fp>-c<n>``, which
    the resume's pre-scan must neither read nor trip over."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = str(tmp_path_factory.mktemp("legacy") / "tiers")
    RollupPipeline(spark, wh, n_buckets=64).run(input_path, run_id="old-1")
    mdir = os.path.join(wh, "_manifest")
    for f in os.listdir(mdir):
        path = os.path.join(mdir, f)
        pq.write_table(pq.read_table(path).drop_columns(["n_buckets"]), path)
    before = sorted(os.listdir(mdir))
    fp = mf.input_fingerprint(input_path)
    for d in os.listdir(wh):  # this run's stored pre-scan, whatever its name
        if d.startswith(("_anchors-", "_giants-")):
            shutil.rmtree(os.path.join(wh, d))
    pq.write_table(
        pa.table({"conv_id": pa.array([], pa.string())}),
        os.path.join(wh, f"_giants-{fp}-c2"),
    )

    with pytest.raises(ValueError, match="n_buckets=16 conflicts with the 64"):
        RollupPipeline(spark, wh, n_buckets=16)
    assert sorted(os.listdir(mdir)) == before

    pipe = RollupPipeline(spark, wh)
    assert pipe.n_buckets == 64
    lost = [3, 17, 40, 63]
    pipe.store.invalidate(["tier_1m", "agg", "packed_1h"], lost, fp, "kill")
    pipe.run(input_path, run_id="new-1")
    man = spark.read.schema(mf.MANIFEST_SCHEMA).parquet(mdir).toPandas()
    new = man[man.run_id == "new-1"]
    assert set(new["bucket"]) == set(lost) and set(new["n_buckets"]) == {64}
    assert set(man[man.run_id == "old-1"]["n_buckets"].dropna()) == set()
    assert any(d.startswith("_anchors-") for d in os.listdir(wh))
    _assert_tiers_bitexact(pipe, golden)


def test_multi_flush_write_byte_identical(spark, input_path, golden, tmp_path_factory):
    """Force the incremental writer through MANY flushes per task (tiny
    thresholds passed through the plan closure): the multi-file tier
    output must still byte-match the oracle — flush boundaries are
    invisible in the data."""
    import glob

    from sits_spark.operators import fused

    table = str(tmp_path_factory.mktemp("whf") / "tiers")
    obs = regularize.observed_slots(spark.read.parquet(input_path))
    stats = fused.fused_write(
        obs, table, ("1h", "1d"), flush_rows=1000, flush_bytes=1 << 16
    )
    assert stats.count() > 0  # the action IS the write
    got = (
        spark.read.parquet(os.path.join(table, "row_kind=slot"))
        .select(*fused.TIER_1M_COLS)
        .toPandas()
    )
    assert_frames_bitexact(got, golden["tier_1m"], ["conv_id", "slot_start"])
    files = glob.glob(os.path.join(table, "row_kind=slot", "**", "*.parquet"), recursive=True)
    flush_ids = {os.path.basename(f).split("-")[2] for f in files}
    assert len(flush_ids) > 1, flush_ids


def test_object_store_backend_rename_free(
    spark, input_path, golden, tmp_path_factory, monkeypatch
):
    """Full pipeline on the object-store backend with os.rename and
    shutil.rmtree forbidden (r3 verdict #8): generation-tagged files +
    manifest-only visibility flips must produce byte-identical tiers,
    keep stale generations invisible after a forced recompute, and let
    vacuum reclaim them."""
    import shutil as _sh

    from sits_spark.storage import ObjectStoreStorage

    def _no_rename(*a, **k):
        raise AssertionError("os.rename used on object-store backend")

    def _no_rmtree(*a, **k):
        raise AssertionError("shutil.rmtree used on object-store backend")

    monkeypatch.setattr(os, "rename", _no_rename)
    monkeypatch.setattr(os, "renames", _no_rename)
    monkeypatch.setattr(_sh, "rmtree", _no_rmtree)

    wh = str(tmp_path_factory.mktemp("whos") / "tiers")
    pipe = RollupPipeline(spark, wh, storage=ObjectStoreStorage())
    pipe.run(input_path, run_id="os-1")
    got = pipe.read_tier("tier_1m").toPandas()
    assert_frames_bitexact(got, golden["tier_1m"], ["conv_id", "slot_start"])

    # forced recompute writes a SECOND generation into the same bucket
    # dirs; the manifest serves only the new one — no delete, no rename
    pipe.run(input_path, run_id="os-2", resume=False)
    got2 = pipe.read_tier("tier_1m").toPandas()
    assert_frames_bitexact(got2, golden["tier_1m"], ["conv_id", "slot_start"])
    all_files = pipe.storage.list_files(pipe.tier_path("tier_1m"))
    live = pipe._live_files("tier_1m")
    assert len(all_files) > len(live)  # stale generation still on disk

    # vacuum reclaims exactly the stale generation; reads unchanged
    deleted = pipe.vacuum()
    assert deleted > 0
    assert sorted(pipe.storage.list_files(pipe.tier_path("tier_1m"))) == sorted(live)
    got3 = pipe.read_tier("tier_1m").toPandas()
    assert_frames_bitexact(got3, golden["tier_1m"], ["conv_id", "slot_start"])
