"""Spark regularization stage: raw transcript turns -> observed 1-minute
slots.

The first half of the reference's regularize -> impute -> smooth chain
(R/sits_regularize.R:170-246, R/api_regularize.R:54-112 in sits)
as a Catalyst-native groupBy over (conv_id, minute slot). Every measure is
an exact int64 (counts / integer sums), so Spark's map-side partial
aggregation is order-insensitive and bit-stable — the distributed result
equals the oracle's bincounts exactly. This stage reads the raw table
once; filters and column pruning push down to the parquet/Iceberg scan.

Gap-fill, smoothing and the tier rollups run on these slots in the fused
kernel (operators.fused; operators.chunk_split for giant conversations).
Hot conversations therefore arrive there pre-reduced to one row per
observed minute.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OBS_COLS = (
    "n_turns",
    "tokens_user",
    "tokens_assistant",
    "tokens_tool",
    "tool_calls",
    "alen_sum",
    "alen_n",
)


def slot_measures() -> list[Column]:
    """The ``_OBS_COLS`` aggregates of one observed slot, in that order:
    the one definition the batch and streaming slot aggregations share.

    Token proxy = length(text)//4; ``alen_*`` carries the assistant
    text-length sum/count whose ratio is the smoothing band.
    """
    text_len = F.coalesce(F.length("text").cast("long"), F.lit(0))
    tok = F.floor(text_len / 4).cast("long")
    is_role = lambda r: F.col("role") == r  # noqa: E731
    measures = {
        "n_turns": F.count(F.lit(1)),
        "tokens_user": F.sum(F.when(is_role("user"), tok).otherwise(0)),
        "tokens_assistant": F.sum(F.when(is_role("assistant"), tok).otherwise(0)),
        "tokens_tool": F.sum(F.when(is_role("tool"), tok).otherwise(0)),
        "tool_calls": F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)),
        "alen_sum": F.sum(F.when(is_role("assistant"), text_len).otherwise(0)),
        "alen_n": F.sum(F.when(is_role("assistant"), 1).otherwise(0)),
    }
    return [measures[c].alias(c) for c in _OBS_COLS]


def observed_slots(transcripts: DataFrame) -> DataFrame:
    """Aggregate raw turns into observed (sparse) 1-minute slots."""
    # ts may arrive as TIMESTAMP_NTZ (pyarrow-written parquet); with the
    # session pinned to UTC the NTZ->LTZ cast preserves the wall time
    ts_s = F.col("ts").cast("timestamp").cast("long")
    slot_s = (F.floor(ts_s / 60) * 60).alias("slot_s")
    return transcripts.groupBy("conv_id", slot_s).agg(*slot_measures())
