"""Headline-query workload: ``queries``.

The timed operation is one pass of the 16 headline registry queries, each
run against a noop sink, over seeded star-schema tables. Set-up is the
session start plus a cold first pass that collects every result; those
results are then compared with each query's DuckDB SQL from the registry,
outside any timing.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

import inputs
from spans import median

# the headline set bench.py reports
HEADLINE = [
    "tpch_q1", "ts_reduce_stats", "ts_grid_gapfill_day", "ts_asof_zipper",
    "ts_regularize_first", "ts_cascade_1h_1d", "ts_rolling_focal", "ts_bayts_change",
    "join_dim_rollup", "doc_dedup_exact", "doc_text_quality", "emb_knn_cosine",
    "emb_ann_lsh_topk", "ts_dtw_change", "emb_mixture_nnls", "doc_minhash_lsh",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float64)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both results hold the same rows (any order): same column
    names, same integer-vs-float class per column, exact values with NaN
    equal to NaN."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if {a.dtype.kind, b.dtype.kind} <= set("iuf") and (a.dtype.kind in "iu") != (b.dtype.kind in "iu"):
            return f"column {c}: {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f" and b.dtype.kind == "f":
            same = np.array_equal(np.nan_to_num(a, nan=-1e308), np.nan_to_num(b, nan=-1e308))
        else:
            same = list(a) == list(b)
        if not same:
            return f"column {c} differs"
    return None


class Queries:
    name = "queries"

    def __init__(self, ctx):
        self.ctx = ctx
        # a suite pass is ~10 s of many short jobs; two keep the run short
        ctx.min_ops = 2

    def _suite(self, collect: bool) -> tuple[float, dict[str, float], dict]:
        from sits_spark.queries import REGISTRY

        per, results = {}, {}
        t0 = time.perf_counter()
        for q in HEADLINE:
            with self.ctx.tracer.span(f"queries.{q}") as s:
                df = REGISTRY[q][0](self.spark, self.sf_dir)
                if collect:
                    results[q] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            per[q] = s["dur"]
        self.ctx.rss.sample()
        return time.perf_counter() - t0, per, results

    def setup(self) -> None:
        ctx = self.ctx
        self.sf_dir = inputs.query_tables(ctx.checkout, ctx.seed)
        self.in_rows = sum(inputs.input_meta(self.sf_dir)["rows"].values())
        ctx.tracer.trace_id = "queries/setup"
        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            self.spark = ctx.start_spark()
        ctx.tracer.trace_id = "queries/cold"
        _wall, _per, self.results = self._suite(collect=True)
        ctx.setup_s = time.perf_counter() - t0

    def timed(self, seconds: float) -> None:
        ctx = self.ctx
        walls, per = [], {q: [] for q in HEADLINE}
        while len(walls) < ctx.min_ops or sum(walls) < seconds:
            ctx.tracer.trace_id = f"queries/pass{len(walls)}"
            wall, p, _ = self._suite(collect=False)
            walls.append(wall)
            for q, v in p.items():
                per[q].append(v)
        ctx.op_walls = walls
        ctx.rows_per_op = self.in_rows
        for q in HEADLINE:
            ctx.layer(f"queries.{q}_s", median(per[q]))
        ctx.note(input_rows=self.in_rows, pass_walls=walls)

    def check(self) -> None:
        """Each cold-pass result against its DuckDB SQL, once per run."""
        import duckdb
        from sits_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            for t in inputs.QUERY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in HEADLINE:
                try:
                    err = same_result(self.results[q], con.execute(REGISTRY[q][1]).fetch_df())
                except Exception as e:  # a failed oracle query is a failed check
                    err = f"{type(e).__name__}: {e}"
                self.ctx.attempt(err is None, f"{q} vs DuckDB: {err}")
        finally:
            con.close()

    def traced(self) -> None:
        pass
