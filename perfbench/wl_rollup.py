"""Rollup ingest workload: ``rollup_mixed``.

The input mixes many short conversations (with three hot ones), a few
long ones and one giant over the split threshold, so one pass runs both
the whole-conversation fused path and the chunk-split path.

The timed operation is one warm ``RollupPipeline.run`` pass over the whole
input into a fresh warehouse, reusing the session's stats dir (the
giant-conversation pre-scan result), as ``bench.py`` does. Set-up is the
session start plus the cold first pass, which fills that stats dir.

Correctness (every run, outside the timed window):
- every pass writes the same number of rows per tier;
- a seeded sample of conversations (the two longest, a hot one, the named
  edge conversations and random ones), read back from the last pass's
  files, byte-matches ``oracle.full_pipeline`` on the same raw turns.

Traced runs add, from outside the program:
- the noop-sink ladder scan -> observed_slots -> fused_tiers ->
  fused_write (+ fused_write_chunked for giant conversations) -> run,
  each step's self time being its increment over the previous step;
- kernel sub-phase seconds per Mpoint, from one fixed observed-slot batch
  pushed single-threaded through the engine_core flat kernels and
  ``fused.PartitionedWriter``;
- shuffle bytes and task skew of a timed pass, from the REST API;
- the serving surface over the last warehouse:
  conversation lookups, one-day scans, a resume after tombstoning an
  eighth of the buckets, and retention plus vacuum.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import time

import numpy as np
import pandas as pd

import inputs
from spans import SparkRest, median

TIERS = ("tier_1m", "agg", "packed_1h")
# observed-slot measures, as regularize.observed_slots names them
OBS_COLS = ("n_turns", "tokens_user", "tokens_assistant", "tokens_tool",
            "tool_calls", "alen_sum", "alen_n")
SUM_COLS = ("n_turns", "tokens_user", "tokens_assistant", "tokens_tool", "tool_calls")


def tier_stats(pipe) -> tuple[dict[str, int], int, int]:
    """Rows per tier (parquet footers), bytes and data files on disk."""
    from sits_spark.manifest import footer_counts

    rows = {t: sum(footer_counts(pipe.tier_path(t)).values()) for t in TIERS}
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(pipe.table_path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return rows, n_bytes, n_files


def read_files(pipe, tier: str, conv_ids: list[str]) -> pd.DataFrame:
    """Rows of ``conv_ids`` in one tier, read straight from the parquet
    files the pass wrote (one generation per fresh warehouse), with the
    column types ``read_tier`` gives."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    from sits_spark.pipeline import TIER_COLS

    tbl = pads.dataset(pipe.tier_path(tier), format="parquet", partitioning="hive").to_table(
        columns=TIER_COLS[tier], filter=pc.field("conv_id").isin(conv_ids))
    df = tbl.to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_localize(None)
    return df


def manifest_rows(manifest_dir: str, fp: str) -> dict[str, int]:
    """Committed rows per tier: the newest manifest row of each (tier,
    bucket) under fingerprint ``fp``, a tombstone winning a tie."""
    import pyarrow.parquet as pq

    latest: dict[tuple[str, int], tuple[int, int]] = {}
    for r in pq.read_table(manifest_dir).to_pylist():
        if r["input_fingerprint"] != fp:
            continue
        key, cur = (r["tier"], r["bucket"]), (r["seq"], r["row_count"])
        old = latest.get(key)
        if old is None or cur[0] > old[0] or (cur[0] == old[0] and cur[1] < 0):
            latest[key] = cur
    out: dict[str, int] = {}
    for (tier, _b), (_seq, rows) in latest.items():
        out[tier] = out.get(tier, 0) + max(rows, 0)
    return out


def bitexact(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """None when equal column-for-column, floats compared bitwise."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype == np.float64 and b.dtype == np.float64:
            same = np.array_equal(a.view(np.uint64), b.view(np.uint64))
        elif a.dtype == object or b.dtype == object:
            same = [bytes(x) if isinstance(x, (bytes, bytearray, memoryview)) else x
                    for x in a] == list(b)
        else:
            same = np.array_equal(a, b)
        if not same:
            return f"column {c} differs"
    return None


class Rollup:
    name = "rollup_mixed"

    def __init__(self, ctx):
        self.ctx = ctx

    # -- helpers -----------------------------------------------------------

    def _pipe(self, warehouse: str):
        from sits_spark.pipeline import RollupPipeline

        return RollupPipeline(self.spark, warehouse, stats_dir=self.stats_dir)

    def _fresh_wh(self) -> str:
        return tempfile.mkdtemp(prefix="wh-", dir=self.ctx.work)

    def _pass(self, label: str):
        """One full pipeline run into a fresh warehouse; returns (wall, pipe)."""
        wh = self._fresh_wh()
        pipe = self._pipe(wh)
        self.spark.sparkContext.setJobGroup(label, label)
        with self.ctx.tracer.span("pipeline.run", pass_=label) as s:
            pipe.run(self.inp, run_id=label, resume=False)
        self.ctx.rss.sample()
        return s["dur"], pipe

    # -- phases --------------------------------------------------------------

    def setup(self) -> None:
        ctx = self.ctx
        self.inp = inputs.transcripts(ctx.checkout, ctx.seed)
        self.meta = inputs.input_meta(self.inp)
        ctx.tracer.trace_id = f"{self.name}/setup"
        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            self.spark = ctx.start_spark()
        self.stats_dir = tempfile.mkdtemp(prefix="stats-", dir=ctx.work)
        ctx.tracer.trace_id = f"{self.name}/cold"
        _wall, pipe = self._pass("cold")
        ctx.setup_s = time.perf_counter() - t0
        self.expect_rows, _b, _f = tier_stats(pipe)
        shutil.rmtree(pipe.warehouse)

    def timed(self, seconds: float) -> None:
        """Warm passes until their summed wall reaches ``seconds`` and at
        least ``ctx.min_ops`` ran; each pass's output is measured and
        removed after the window."""
        ctx = self.ctx
        walls, pipes = [], []
        while len(walls) < ctx.min_ops or sum(walls) < seconds:
            ctx.tracer.trace_id = f"{self.name}/pass{len(walls)}"
            wall, pipe = self._pass(f"pass{len(walls)}")
            walls.append(wall)
            pipes.append(pipe)
        for i, pipe in enumerate(pipes):
            rows, n_bytes, n_files = tier_stats(pipe)
            ctx.attempt(rows == self.expect_rows,
                        f"pass {i} tier rows {rows} != {self.expect_rows}")
            if pipe is not pipes[-1]:
                shutil.rmtree(pipe.warehouse)
        self.pipe = pipes[-1]
        points = sum(self.expect_rows.values())
        ctx.op_walls = walls
        ctx.rows_per_op = points
        ctx.layer("pipeline.run_s", median(walls))
        ctx.layer("fused.bytes_per_point", n_bytes / points)
        ctx.layer("fused.files_per_mpoint", n_files / points * 1e6)
        ctx.note(points=points, rows=self.expect_rows, bytes=n_bytes, files=n_files,
                 turns=self.meta["turns"])

    def check(self) -> None:
        """Byte-match a seeded conversation sample against the oracle."""
        from sits_spark import oracle

        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 3])
        ids = self.meta["conv_ids"]
        sample = sorted(set(self.meta["longest"][:2]) | {"conv-hot-1"} | set(inputs.EDGE_IDS)
                        | {ids[i] for i in rng.choice(len(ids), 4, replace=False)})
        want = oracle.full_pipeline(inputs.read_convs(self.inp, sample))
        for name, tier, keys in (("tier_1m", "tier_1m", ["conv_id", "slot_start"]),
                                 ("packed_1h", "packed_1h", ["conv_id", "window_start"]),
                                 ("agg_1h", "agg", ["conv_id", "window_start"]),
                                 ("agg_1d", "agg", ["conv_id", "window_start"])):
            try:
                got = read_files(self.pipe, tier, sample)
                if tier == "agg":
                    got = got[got["tier"] == name[-2:]].drop(columns="tier")
                err = bitexact(got, want[name], keys)
            except Exception as e:  # a failed read is a failed check
                err = f"{type(e).__name__}: {e}"
            ctx.attempt(err is None, f"{name} vs oracle: {err}")

    # -- traced extras ---------------------------------------------------------

    def traced(self) -> None:
        for step in (self._rest_metrics, self._ladder, self._kernel_phases, self._serve):
            t0 = time.perf_counter()
            step()
            self.ctx.note(**{f"traced{step.__name__}_s": time.perf_counter() - t0})

    def _rest_metrics(self) -> None:
        rest = SparkRest(self.spark)
        label = f"pass{len(self.ctx.op_walls) - 1}"
        stages = rest.group_stages(label)
        shuffle = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        fused_stage = max(stages, key=lambda s: s.get("executorRunTime", 0))
        self.ctx.layer("fused.shuffle_bytes_per_point", shuffle / self.ctx.rows_per_op)
        self.ctx.layer("fused.task_skew", rest.task_skew(fused_stage))

    def _split(self, observed):
        """The pipeline's giant/common split, from the input itself."""
        from pyspark.sql import functions as F
        from sits_spark import engine_core

        span_s = self.pipe.giant_span_chunks * engine_core.CHUNK_SLOTS * 60
        raw = pd.read_parquet(self.inp, columns=["conv_id", "ts"])
        s = raw["ts"].astype("datetime64[s]").astype(np.int64).groupby(raw["conv_id"])
        giants = sorted((s.max() - s.min())[lambda x: x > span_s].index)
        g = F.col("conv_id")
        return giants, observed.where(g.isNull() | ~g.isin(giants)), observed.where(g.isin(giants))

    def _ladder(self) -> None:
        from sits_spark.operators import chunk_split, fused, regularize

        ctx = self.ctx
        ctx.tracer.trace_id = f"{self.name}/ladder"

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def write_stats(fn, obs):
            wh = self._fresh_wh()
            try:
                fn(obs, os.path.join(wh, "tiers"), ("1h", "1d"),
                   self.pipe.range_partitions, with_pack=True).collect()
            finally:
                shutil.rmtree(wh)

        raw = self.spark.read.parquet(self.inp)
        obs = regularize.observed_slots(raw)
        giants, common, giant = self._split(obs)
        steps = [
            ("regularize.scan", lambda: noop(raw)),
            ("regularize.observed_slots", lambda: noop(obs)),
            ("fused.tiers", lambda: noop(fused.fused_tiers(common, ("1h", "1d"),
                                                           self.pipe.range_partitions))),
            ("fused.write", lambda: write_stats(fused.fused_write, common)),
            ("chunk_split.write", (lambda: write_stats(chunk_split.fused_write_chunked, giant))
             if giants else None),
            ("pipeline.run", lambda: self._pass("ladder")[1]),
        ]
        best: dict[str, float] = {}
        for name, fn in steps:
            if fn is None:
                best[name] = 0.0
                continue
            with ctx.tracer.span(f"ladder.{name}") as s:
                out = fn()
            if name == "pipeline.run":
                shutil.rmtree(out.warehouse)
            best[name] = s["dur"]
        inc = {
            "regularize.scan_s": best["regularize.scan"],
            "regularize.observed_slots_s": best["regularize.observed_slots"] - best["regularize.scan"],
            "fused.tiers_s": best["fused.tiers"] - best["regularize.observed_slots"],
            "fused.write_s": best["fused.write"] - best["fused.tiers"],
            "chunk_split.write_s": best["chunk_split.write"],
            "pipeline.overhead_s": best["pipeline.run"] - best["fused.write"] - best["chunk_split.write"],
        }
        for k, v in inc.items():
            ctx.layer(k, v)
        ctx.layer("pipeline.ladder_sum_ratio", sum(inc.values()) / median(ctx.op_walls))
        ctx.note(ladder_totals=best, giants=len(giants))

    def _kernel_phases(self) -> None:
        """One fixed observed-slot batch through the flat kernels and the
        partitioned writer, single-threaded in this process."""
        from pyspark.sql import functions as F
        from sits_spark import engine_core, manifest
        from sits_spark.batching import conv_bounds
        from sits_spark.operators import fused, regularize

        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 5])
        ids = self.meta["conv_ids"]
        sample = sorted({ids[i] for i in rng.choice(len(ids), 400, replace=False)}
                        | {self.meta["longest"][0]})
        obs = (regularize.observed_slots(
            self.spark.read.parquet(self.inp).where(F.col("conv_id").isin(sample)))
            .withColumn("bucket", manifest.bucket_expr())
            .orderBy("bucket", "conv_id", "slot_s").toArrow())
        tbl = {n: obs.column(n).to_numpy() for n in obs.column_names}
        t = {}

        def clock(name, fn, *a):
            t0 = time.perf_counter()
            out = fn(*a)
            t[name] = t.get(name, 0.0) + time.perf_counter() - t0
            return out

        cid, slot, bkt = tbl["conv_id"], tbl["slot_s"], tbl["bucket"]
        starts, bounds = conv_bounds(cid)
        grid, gb = clock("scatter", engine_core.scatter_grid_flat, slot, bounds,
                         {c: tbl[c] for c in OBS_COLS})
        filled, sg, whit, flags = clock("band", engine_core.band_pipeline_flat,
                                        grid["alen"], gb, grid["slot_start_s"][gb[:-1]] // 60)
        lens = np.diff(gb)
        slot_s = grid["slot_start_s"]
        slot_data = {
            "conv_id": np.repeat(cid[starts], lens), "slot_start": slot_s * 1_000_000,
            "bucket": np.repeat(bkt[starts], lens).astype(np.int32),
            "day": (slot_s // 86400).astype(np.int32), "present": grid["present"],
            "alen": grid["alen"], "fill_flag": flags, "alen_filled": filled,
            "alen_sg": sg, "alen_whit": whit, **{k: grid[k] for k in SUM_COLS},
        }
        flat = {"slot_start_s": slot_s, "alen_whit": whit, **{k: grid[k] for k in SUM_COLS}}
        conv_arr, bkt_arr = cid[starts], bkt[starts].astype(np.int32)
        aggs = []
        for tier in ("1h", "1d"):
            cols, cw = clock("rollup", engine_core.rollup_flat, flat, gb,
                             engine_core.TIER_SECONDS[tier])
            win = cols.pop("window_start_s")
            aggs.append({**cols, "conv_id": conv_arr[cw], "bucket": bkt_arr[cw],
                         "tier": np.full(len(cw), tier, dtype=object),
                         "window_start": win * 1_000_000, "day": (win // 86400).astype(np.int32)})
        agg_data = {k: np.concatenate([a[k] for a in aggs]) for k in aggs[0]}
        pcols, pcw = clock("pack", engine_core.pack_flat, flat, gb, 3600)
        pwin = pcols["window_start_s"]
        pack_data = {
            "conv_id": conv_arr[pcw], "bucket": bkt_arr[pcw], "window_start": pwin * 1_000_000,
            "day": (pwin // 86400).astype(np.int32), "n": pcols["n"],
            "first_ts": pcols["first_ts"], "first_val": pcols["first_val"],
            "ts_d2": np.array(pcols["ts_d2"], dtype=object),
            "vals_gorilla": np.array(pcols["vals_gorilla"], dtype=object),
        }
        n = {"slot": len(slot_s), "agg": len(agg_data["conv_id"]), "pack": len(pcw)}
        out = self._fresh_wh()
        try:
            writer = fused.PartitionedWriter(out, 0)
            for kind, data in (("slot", slot_data), ("agg", agg_data), ("pack", pack_data)):
                clock("encode", writer.add, kind, data, n[kind])
            stats = clock("encode", writer.stats_batch)
        finally:
            shutil.rmtree(out)
        written = sum(stats.column("rows").to_pylist())
        ctx.attempt(written == sum(n.values()), f"sub-phase writer wrote {written} rows")
        mpoints = sum(n.values()) / 1e6
        for key, name in (("scatter", "engine_core.scatter_s_per_mpoint"),
                          ("band", "engine_core.band_pipeline_s_per_mpoint"),
                          ("rollup", "engine_core.rollup_s_per_mpoint"),
                          ("pack", "engine_core.pack_s_per_mpoint"),
                          ("encode", "fused.encode_s_per_mpoint")):
            ctx.layer(name, t[key] / mpoints)
        ctx.note(kernel_batch_points=sum(n.values()), kernel_batch_convs=len(starts))

    def _serve(self) -> None:
        """Lookups, day scans, resume and retention on the last warehouse."""
        from pyspark.sql import functions as F
        from sits_spark import codec, oracle, retention
        from sits_spark import manifest as mf
        from sits_spark.pipeline import TIER_DIRS

        ctx, pipe = self.ctx, self.pipe
        ctx.tracer.trace_id = f"{self.name}/serve"
        rest = SparkRest(self.spark)
        _rows, _b, files_live = tier_stats(pipe)
        ctx.layer("pipeline.files_live", files_live)

        rng = np.random.default_rng([ctx.seed, 9])
        ids = self.meta["conv_ids"]
        # each lookup re-resolves three tiers through the manifest and a
        # file listing (~15 s on 4 cores), so two samples: the giant and one other
        lookup_ids = [self.meta["longest"][0], ids[int(rng.integers(len(ids)))]]
        want = oracle.full_pipeline(inputs.read_convs(self.inp, lookup_ids))
        t = {"lookup": [], "read_tier": [], "read_exec": [], "decode": []}
        files_read = 0
        for cid in lookup_ids:
            sql0 = rest.max_sql_id()
            with ctx.tracer.span("serve.lookup", conv=cid) as s_all:
                with ctx.tracer.span("pipeline.read_tier") as s:
                    dfs = [pipe.read_agg("1h"), pipe.read_tier("tier_1m"), pipe.read_tier("packed_1h")]
                t["read_tier"].append(s["dur"])
                with ctx.tracer.span("pipeline.read_exec") as s:
                    agg, t1m, pk = [d.where(F.col("conv_id") == cid).toPandas() for d in dfs]
                t["read_exec"].append(s["dur"])
                pk = pk.sort_values("window_start")
                with ctx.tracer.span("codec.decode") as s:
                    decoded = [(codec.decode_ts_d2(bytes(a)), codec.decode_xor(bytes(b)))
                               for a, b in zip(pk["ts_d2"], pk["vals_gorilla"])]
                t["decode"].append(s["dur"])
            t["lookup"].append(s_all["dur"])
            files_read += rest.files_read_since(sql0)
            ctx.rss.sample()
            mine = lambda df: df[df["conv_id"] == cid]  # noqa: E731
            whit = t1m.sort_values("slot_start")["alen_whit"].to_numpy()
            unpacked = np.concatenate([v for _ts, v in decoded]) if decoded else np.empty(0)
            ok = (bitexact(agg.drop(columns="tier"), mine(want["agg_1h"]), ["conv_id", "window_start"]) is None
                  and bitexact(t1m, mine(want["tier_1m"]), ["conv_id", "slot_start"]) is None
                  and len(unpacked) == len(whit)
                  and np.array_equal(unpacked.view(np.uint64), whit.view(np.uint64)))
            ctx.attempt(ok, f"lookup {cid} differs from the oracle")
        ctx.layer("serve.lookup_p50_s", median(t["lookup"]))
        ctx.layer("pipeline.read_tier_s", median(t["read_tier"]))
        ctx.layer("pipeline.read_exec_s", median(t["read_exec"]))
        ctx.layer("codec.decode_s", median(t["decode"]))
        ctx.layer("pipeline.files_read_per_lookup", files_read / len(lookup_ids) / files_live)

        raw = pd.read_parquet(self.inp, columns=["ts"])["ts"].astype("datetime64[s]")
        days = sorted(raw.dt.floor("D").unique())
        scans = []
        for day in [pd.Timestamp(days[i]) for i in rng.choice(len(days), 2, replace=False)]:
            lit = F.lit(day.to_pydatetime().replace(tzinfo=dt.timezone.utc))
            with ctx.tracer.span("serve.dayscan", day=str(day)) as s:
                got = (pipe.read_agg("1d").where(F.col("window_start") == lit)
                       .agg(F.sum("n_turns").alias("t")).collect()[0]["t"])
            scans.append(s["dur"])
            n_raw = int(((raw >= day) & (raw < day + pd.Timedelta(days=1))).sum())
            ctx.attempt(got == n_raw, f"day scan {day}: {got} turns != {n_raw}")
        ctx.layer("serve.dayscan_p50_s", median(scans))

        with ctx.tracer.span("manifest.fingerprint") as s:
            fp = mf.input_fingerprint(self.inp)
        ctx.layer("manifest.fingerprint_s", s["dur"])
        lost = sorted(rng.choice(pipe.n_buckets, pipe.n_buckets // 8, replace=False).tolist())
        pipe.store.invalidate(list(TIER_DIRS), lost, fp, "kill")
        with ctx.tracer.span("manifest.plan_missing") as s:
            missing = {tier: pipe.store.plan_missing(tier, fp, pipe.n_buckets) for tier in TIERS}
        ctx.layer("manifest.plan_missing_s", s["dur"])
        ctx.attempt(all(m == lost for m in missing.values()), f"plan_missing {missing} != {lost}")
        with ctx.tracer.span("serve.resume") as s:
            pipe.run(self.inp, run_id="resume", resume=True)
        ctx.layer("serve.resume_s", s["dur"])
        counts = manifest_rows(pipe.store.path, fp)
        ctx.attempt(counts == self.expect_rows, f"resumed rows {counts} != {self.expect_rows}")

        with ctx.tracer.span("serve.retention") as s_all:
            with ctx.tracer.span("retention.apply") as s:
                deleted = retention.apply_retention(pipe.warehouse)
            ctx.layer("retention.apply_s", s["dur"])
            with ctx.tracer.span("pipeline.vacuum") as s:
                vacuumed = pipe.vacuum()
            ctx.layer("pipeline.vacuum_s", s["dur"])
        ctx.layer("serve.retention_s", s_all["dur"])
        ctx.layer("retention.partitions_deleted", sum(len(v) for v in deleted.values()))

        def days_of(path):
            return [dt.date.fromisoformat(d[4:]) for _r, ds, _f in os.walk(path)
                    for d in ds if d.startswith("day=")]

        wm = max(days_of(pipe.table_path))
        stale = [day for tier, keep in retention.DEFAULT_POLICY.items()
                 for day in days_of(pipe.tier_path(tier)) if day < wm - dt.timedelta(days=keep)]
        ctx.attempt(not stale and vacuumed > 0, f"retention left {len(stale)} stale partitions, "
                    f"vacuum removed {vacuumed} files")
