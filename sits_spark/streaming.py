"""Structured Streaming ingestion: transcript stream -> observed 1m slots.

The reference is batch-only (SURVEY.md §2.9); its closest analogs are the
period-window bucketing (/root/reference/R/api_period.R:57-86) and the
late/missing-data handling via gap slots
(/root/reference/R/api_regularize.R:91-103). The streaming front-end
mirrors the batch ``observed_slots`` aggregation exactly — same exact-int
measures per (conv_id, minute window) — with an event-time watermark for
late turns, appending to the SAME observed-slot layout the batch pipeline
consumes. Gap-fill/smoothing stay batch jobs over closed windows (the
smoothers need whole series; watermark-free because the grid join
materializes missing slots — SURVEY.md §2.9 mapping).

Sinks append to parquet bucketed the same way as the batch tiers
(``start_observed_sink``), and a periodic batch compaction
(``RollupPipeline.run_from_observed`` over the sink's output) runs the
fused kernel over the closed slots: the stream's only path to the 1h/1d
tiers, byte-identical to the batch pipeline over the same closed prefix
(asserted in tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .api import _bayts_llr_fp
from .manifest import bucket_expr
from .operators.regularize import _OBS_COLS, slot_measures


def observed_slots_stream(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming variant of operators.regularize.observed_slots.

    Same exact-int measures; ``F.window(ts, "1 minute")`` is the
    event-time tumbling window (half-open [start, end) — identical slot
    semantics to the batch floor-to-minute)."""
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"))
        .agg(*slot_measures())
        .select("conv_id", F.col("w.start").cast("long").alias("slot_s"), *_OBS_COLS)
    )


def detect_change_stream(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    mu_stable: float,
    sd_stable: float,
    mu_changed: float,
    sd_changed: float,
    bwf: tuple[float, float] = (0.1, 0.9),
    tau: float = 2.0,
    order_by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Streaming bayts change detection — the custom STATEFUL operator
    (SURVEY.md §2.9 ``applyInPandasWithState`` row; batch semantics in
    api.detect_change, reference src/bayts_fns.cpp:44-164).

    The per-row log-odds are the batch verb's own Column expression,
    projected before the state operator: quantised to a long in 1e-4
    fixed point, with rows whose value is NULL skipped and the far-outlier
    rule applied. Per key, the group state carries the fixed-point
    cumulative sum and the first flagged timestamp; each micro-batch sorts
    its rows by the full ordering, continues the integer sum from state,
    and emits the key's updated (cum_llr_fp, flagged, first_flag_ts).
    With in-order delivery per key the first flag equals the batch
    operator's exactly."""
    # mirror the batch operator's FULL ordering tuple (api.detect_change
    # orders by e.g. (ts, event_id)): sorting on ts alone lets rows with
    # equal timestamps accumulate log-odds in a different order and flag
    # a different first row than batch
    sort_cols = list(order_by) if order_by else [ts_col]
    llr = _bayts_llr_fp(
        stream, list(dict.fromkeys([key_col, ts_col, *sort_cols])), value_col,
        mu_stable, sd_stable, mu_changed, sd_changed, bwf,
    )
    tau_fp = round(tau * 10_000)
    out_schema = (
        f"{key_col} string, cum_llr_fp long, flagged boolean, first_flag_ts long"
    )
    state_schema = "cum_fp long, flagged boolean, first long"

    def fn(key, pdfs, state: GroupState):
        cum, flagged, first = (
            state.get if state.exists else (0, False, None)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(sort_cols, kind="mergesort")
        cums = cum + np.cumsum(rows["llr_fp"].to_numpy(dtype=np.int64))
        cum = int(cums[-1]) if len(cums) else cum
        if not flagged:
            hit = np.flatnonzero(cums >= tau_fp)
            if len(hit):
                flagged = True
                first = int(rows[ts_col].to_numpy(dtype=np.int64)[hit[0]])
        state.update((cum, bool(flagged), first))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "cum_llr_fp": [cum],
                "flagged": [bool(flagged)],
                "first_flag_ts": [first],
            }
        )

    return llr.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def start_observed_sink(
    stream_slots: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger_seconds: int = 30,
):
    """Append observed slots to the warehouse layout (bucketed parquet)
    with exactly-once file commits via the streaming checkpoint."""
    out = stream_slots.withColumn("bucket", bucket_expr())
    return (
        out.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("bucket")
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
