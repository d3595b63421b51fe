"""Transcript-engine queries for the driver contract.

These run the actual rollup engine on the deterministic synthetic
transcript table (BASELINE.json input_hint — the driver's sf tables are
not transcript-shaped). The fixture is also materialized to a stable
parquet path so DuckDB can read the SAME input via ``read_parquet``.
Every tier query reads the fused kernel the pipeline writes with
(``fused.fused_tiers`` over ``regularize.observed_slots``, viewed through
``fused.slot_tier``/``agg_tier``/``pack_tier``):

- The ``*_ints`` / ``*_meta`` queries project the exactly-integer (or
  single-division float) columns of each tier, which ARE SQL-expressible
  — they give the driver hard hash-checked oracles over the real engine
  path (Catalyst slot agg + the fused mapInArrow kernel).
- The four full-tier queries include the smoothed float bands
  (Savitzky-Golay, Whittaker, Gorilla blobs) which no SQL engine
  reproduces; they stay rows-only here and are byte-matched against the
  single-node oracle in pytest (tests/test_spark_pipeline.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures
from .operators import fused, regularize
from .session import read_parquet

_N_CONVS = 150
_SEED = 42
_HOT = 1500

# stable on-disk copy of the fixture so the DuckDB oracle reads the same rows
FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".data",
    "transcripts_oracle_v1",
    "transcripts.parquet",
)


def ensure_fixture() -> str:
    """Write the deterministic fixture parquet once (atomic publish)."""
    if not os.path.exists(FIXTURE_PATH):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.dirname(FIXTURE_PATH), exist_ok=True)
        pdf = fixtures.gen_transcripts(_N_CONVS, seed=_SEED, hot_turns=_HOT)
        tmp = FIXTURE_PATH + ".tmp"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, FIXTURE_PATH)
    return FIXTURE_PATH


def _transcripts(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, ensure_fixture())


def _fused(
    transcripts: DataFrame, tiers: tuple[str, ...] = (), with_pack: bool = False
) -> DataFrame:
    """raw turns -> the fused kernel's union-schema tier stream."""
    return fused.fused_tiers(
        regularize.observed_slots(transcripts), tiers, with_pack=with_pack
    )


def _agg(transcripts: DataFrame, tier: str) -> DataFrame:
    """raw turns -> one aggregate tier, ``tier`` column dropped."""
    return fused.agg_tier(_fused(transcripts, (tier,))).drop("tier")


# -- full-tier queries (rows-only: smoothed floats are not SQL) ------------


def transcript_tier_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raw turns -> dense gap-filled smoothed 1-minute tier."""
    return fused.slot_tier(_fused(_transcripts(spark)))


def transcript_agg_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1m tier -> 1h continuous aggregates."""
    return _agg(_transcripts(spark), "1h")


def transcript_agg_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1m tier -> 1d continuous aggregates."""
    return _agg(_transcripts(spark), "1d")


def transcript_packed_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-packed (conv, hour) blocks of the smoothed band."""
    return fused.pack_tier(_fused(_transcripts(spark), with_pack=True))


# -- driver-oracle projections (hash-checked vs DuckDB) --------------------


def transcript_slots_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed 1-minute slots (the Catalyst aggregation stage of the
    pipeline) — every measure an exact int64."""
    return regularize.observed_slots(_transcripts(spark)).orderBy(
        "conv_id", "slot_s"
    )


def transcript_grid_1m_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1m grid (gap slots materialized by the mapInArrow kernel),
    integer projection."""
    return fused.slot_tier(_fused(_transcripts(spark))).select(
        "conv_id",
        F.col("slot_start").cast("long").alias("slot_s"),
        "present",
        "n_turns",
        "tokens_user",
        "tokens_assistant",
        "tokens_tool",
        "tool_calls",
    )


def _agg_ints(transcripts: DataFrame, tier: str) -> DataFrame:
    return _agg(transcripts, tier).select(
        "conv_id",
        F.col("window_start").cast("long").alias("window_s"),
        "n_slots",
        "n_turns",
        "tokens_user",
        "tokens_assistant",
        "tokens_tool",
        "tool_calls",
        "turn_rate",
    )


def transcript_agg_1h_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h tier through the engine kernels, integer/exact projection
    (turn_rate = one int/int division — bit-deterministic)."""
    return _agg_ints(_transcripts(spark), "1h")


def transcript_agg_1d_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1d tier through the engine kernels, integer/exact projection."""
    return _agg_ints(_transcripts(spark), "1d")


def transcript_pack_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-block metadata (window, point count, first timestamp) —
    the SQL-checkable envelope of the Gorilla blocks."""
    pk = transcript_packed_1h(spark, sf_dir)
    return pk.select(
        "conv_id",
        F.col("window_start").cast("long").alias("window_s"),
        F.col("n").cast("long").alias("n_points"),
        "first_ts",
    )


def _sql_obs(src: str, extra: str = "") -> str:
    return f"""
SELECT conv_id, (CAST(epoch_us(ts) AS BIGINT) // 60000000) * 60 AS slot_s,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN role = 'user' THEN length(text) // 4 ELSE 0 END) AS BIGINT) AS tokens_user,
       CAST(sum(CASE WHEN role = 'assistant' THEN length(text) // 4 ELSE 0 END) AS BIGINT) AS tokens_assistant,
       CAST(sum(CASE WHEN role = 'tool' THEN length(text) // 4 ELSE 0 END) AS BIGINT) AS tokens_tool,
       CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tool_calls,
       CAST(sum(CASE WHEN role = 'assistant' THEN length(text) ELSE 0 END) AS BIGINT) AS alen_sum,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS alen_n
FROM {src}
GROUP BY 1, 2{extra}
"""


def _sql_grid_base(src: str) -> str:
    return f"""
WITH obs AS ({_sql_obs(src)}),
span AS (SELECT conv_id, min(slot_s) AS s0, max(slot_s) AS s1 FROM obs GROUP BY 1),
grid AS (SELECT conv_id, unnest(generate_series(s0, s1, 60)) AS slot_s FROM span),
dense AS (
  SELECT g.conv_id, g.slot_s,
         coalesce(o.n_turns, 0) > 0 AS present,
         coalesce(o.n_turns, 0) AS n_turns,
         coalesce(o.tokens_user, 0) AS tokens_user,
         coalesce(o.tokens_assistant, 0) AS tokens_assistant,
         coalesce(o.tokens_tool, 0) AS tokens_tool,
         coalesce(o.tool_calls, 0) AS tool_calls
  FROM grid g LEFT JOIN obs o ON g.conv_id = o.conv_id AND g.slot_s = o.slot_s
)
"""


_FIXTURE_SRC = f"read_parquet('{FIXTURE_PATH}')"

SQL_TRANSCRIPT_SLOTS_OBS = _sql_obs(_FIXTURE_SRC, " ORDER BY conv_id, slot_s")

_SQL_GRID_BASE = _sql_grid_base(_FIXTURE_SRC)

SQL_TRANSCRIPT_GRID_1M_INTS = (
    _SQL_GRID_BASE
    + "SELECT conv_id, slot_s, present, n_turns, tokens_user, tokens_assistant, tokens_tool, tool_calls FROM dense"
)


def _sql_agg_ints(seconds: int) -> str:
    return (
        _SQL_GRID_BASE
        + f"""
SELECT conv_id, (slot_s // {seconds}) * {seconds} AS window_s,
       count(*) AS n_slots,
       CAST(sum(n_turns) AS BIGINT) AS n_turns,
       CAST(sum(tokens_user) AS BIGINT) AS tokens_user,
       CAST(sum(tokens_assistant) AS BIGINT) AS tokens_assistant,
       CAST(sum(tokens_tool) AS BIGINT) AS tokens_tool,
       CAST(sum(tool_calls) AS BIGINT) AS tool_calls,
       CAST(sum(n_turns) AS DOUBLE) / count(*) AS turn_rate
FROM dense GROUP BY 1, 2
"""
    )


SQL_TRANSCRIPT_AGG_1H_INTS = _sql_agg_ints(3600)
SQL_TRANSCRIPT_AGG_1D_INTS = _sql_agg_ints(86400)

SQL_TRANSCRIPT_PACK_META = (
    _SQL_GRID_BASE
    + """
SELECT conv_id, (slot_s // 3600) * 3600 AS window_s,
       count(*) AS n_points, min(slot_s) AS first_ts
FROM dense GROUP BY 1, 2
"""
)


# -- events-derived engine oracles (driver-view-only SQL) ------------------
#
# The fixture-based oracles above read an absolute parquet path, which a
# sandboxed DuckDB (external file access disabled) rejects with
# "Permission Error: Scanning read_parquet files is disabled" — verified
# against duckdb.connect(config={"enable_external_access": "false"}),
# and the likely reason the r2 driver dropped those five rows. These
# variants derive the SAME transcript shape (BASELINE.json input_hint)
# deterministically from the driver's registered `events` view — pure SQL
# on both sides — and push it through the REAL engine kernels
# (observed_slots -> fused mapInArrow kernel -> slot/agg/pack views),
# so the driver gets hash-checked rows over the flagship path with zero
# filesystem dependencies.

_EV_COND = {
    "all": None,
    "mod5": "user_id % 5 = 2",
    "mod5_4d": "user_id % 5 = 2 AND ts < TIMESTAMP '2024-01-05 00:00:00'",
}


def _ev_transcripts(spark: SparkSession, sf_dir: str, cond: str) -> DataFrame:
    """events -> (conv_id, role, text, tool, ts): conv = user, role cycles
    by event_id, text = 'event_type props', tool on role='tool' rows."""
    e = read_parquet(spark, f"{sf_dir}/events.parquet")
    if cond == "mod5":
        e = e.where(F.col("user_id") % 5 == 2)
    elif cond == "mod5_4d":
        e = e.where(
            (F.col("user_id") % 5 == 2)
            & (F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
        )
    r = F.col("event_id") % 3
    role = F.when(r == 0, "user").when(r == 1, "assistant").otherwise("tool")
    return e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        role.alias("role"),
        F.concat_ws(" ", "event_type", "props").alias("text"),
        F.when(r == 2, F.col("event_type")).alias("tool"),
        "ts",
    )


def _ev_src(cond: str) -> str:
    where = f" WHERE {_EV_COND[cond]}" if _EV_COND[cond] else ""
    return f"""(
SELECT CAST(user_id AS VARCHAR) AS conv_id,
       CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       event_type || ' ' || props AS text,
       CASE WHEN event_id % 3 = 2 THEN event_type END AS tool,
       ts
FROM events{where})"""


def transcript_ev_slots_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine stage 1 (Catalyst slot aggregation) over the events-derived
    transcript table — every measure an exact int64."""
    return regularize.observed_slots(_ev_transcripts(spark, sf_dir, "all"))


def transcript_ev_grid_1m_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine 1m tier (mapInArrow dense-grid kernel incl. gap slots),
    integer projection, on a bounded conv/time slice."""
    t1m = fused.slot_tier(_fused(_ev_transcripts(spark, sf_dir, "mod5_4d")))
    return t1m.select(
        "conv_id",
        F.col("slot_start").cast("long").alias("slot_s"),
        "present",
        "n_turns",
        "tokens_user",
        "tokens_assistant",
        "tokens_tool",
        "tool_calls",
    )


def transcript_ev_agg_1h_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine 1h tier (conv-batched rollup kernel), exact projection."""
    return _agg_ints(_ev_transcripts(spark, sf_dir, "mod5"), "1h")


def transcript_ev_agg_1d_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine 1d tier over every conversation, exact projection."""
    return _agg_ints(_ev_transcripts(spark, sf_dir, "all"), "1d")


def transcript_ev_pack_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla packed-block envelope (window, n points, first ts) through
    the engine's pack kernel."""
    pk = fused.pack_tier(_fused(_ev_transcripts(spark, sf_dir, "mod5"), with_pack=True))
    return pk.select(
        "conv_id",
        F.col("window_start").cast("long").alias("window_s"),
        F.col("n").cast("long").alias("n_points"),
        "first_ts",
    )


def _sql_ev_agg_ints(seconds: int, cond: str) -> str:
    return (
        _sql_grid_base(_ev_src(cond))
        + f"""
SELECT conv_id, (slot_s // {seconds}) * {seconds} AS window_s,
       count(*) AS n_slots,
       CAST(sum(n_turns) AS BIGINT) AS n_turns,
       CAST(sum(tokens_user) AS BIGINT) AS tokens_user,
       CAST(sum(tokens_assistant) AS BIGINT) AS tokens_assistant,
       CAST(sum(tokens_tool) AS BIGINT) AS tokens_tool,
       CAST(sum(tool_calls) AS BIGINT) AS tool_calls,
       CAST(sum(n_turns) AS DOUBLE) / count(*) AS turn_rate
FROM dense GROUP BY 1, 2
"""
    )


SQL_TRANSCRIPT_EV_SLOTS_OBS = _sql_obs(_ev_src("all"))
SQL_TRANSCRIPT_EV_GRID_1M_INTS = (
    _sql_grid_base(_ev_src("mod5_4d"))
    + "SELECT conv_id, slot_s, present, n_turns, tokens_user, tokens_assistant, tokens_tool, tool_calls FROM dense"
)
SQL_TRANSCRIPT_EV_AGG_1H_INTS = _sql_ev_agg_ints(3600, "mod5")
SQL_TRANSCRIPT_EV_AGG_1D_INTS = _sql_ev_agg_ints(86400, "all")
SQL_TRANSCRIPT_EV_PACK_META = (
    _sql_grid_base(_ev_src("mod5"))
    + """
SELECT conv_id, (slot_s // 3600) * 3600 AS window_s,
       count(*) AS n_points, min(slot_s) AS first_ts
FROM dense GROUP BY 1, 2
"""
)

# (builder, oracle SQL) pairs fit for the main queries.REGISTRY: the SQL
# references ONLY the driver's registered views.
EV_REGISTRY: dict[str, tuple] = {
    "transcript_ev_slots_obs": (transcript_ev_slots_obs, SQL_TRANSCRIPT_EV_SLOTS_OBS),
    "transcript_ev_grid_1m_ints": (transcript_ev_grid_1m_ints, SQL_TRANSCRIPT_EV_GRID_1M_INTS),
    "transcript_ev_agg_1h_ints": (transcript_ev_agg_1h_ints, SQL_TRANSCRIPT_EV_AGG_1H_INTS),
    "transcript_ev_agg_1d_ints": (transcript_ev_agg_1d_ints, SQL_TRANSCRIPT_EV_AGG_1D_INTS),
    "transcript_ev_pack_meta": (transcript_ev_pack_meta, SQL_TRANSCRIPT_EV_PACK_META),
}

# fixture-based engine projections, also REGISTRY-shaped (VERDICT r2 #1)
FIXTURE_REGISTRY: dict[str, tuple] = {
    "transcript_slots_obs": (transcript_slots_obs, SQL_TRANSCRIPT_SLOTS_OBS),
    "transcript_grid_1m_ints": (transcript_grid_1m_ints, SQL_TRANSCRIPT_GRID_1M_INTS),
    "transcript_agg_1h_ints": (transcript_agg_1h_ints, SQL_TRANSCRIPT_AGG_1H_INTS),
    "transcript_agg_1d_ints": (transcript_agg_1d_ints, SQL_TRANSCRIPT_AGG_1D_INTS),
    "transcript_pack_meta": (transcript_pack_meta, SQL_TRANSCRIPT_PACK_META),
}


TRANSCRIPT_QUERIES = {
    "transcript_tier_1m": transcript_tier_1m,
    "transcript_agg_1h": transcript_agg_1h,
    "transcript_agg_1d": transcript_agg_1d,
    "transcript_packed_1h": transcript_packed_1h,
    "transcript_slots_obs": transcript_slots_obs,
    "transcript_grid_1m_ints": transcript_grid_1m_ints,
    "transcript_agg_1h_ints": transcript_agg_1h_ints,
    "transcript_agg_1d_ints": transcript_agg_1d_ints,
    "transcript_pack_meta": transcript_pack_meta,
    **{name: b for name, (b, _sql) in EV_REGISTRY.items()},
}

TRANSCRIPT_ORACLES = {
    "transcript_slots_obs": SQL_TRANSCRIPT_SLOTS_OBS,
    "transcript_grid_1m_ints": SQL_TRANSCRIPT_GRID_1M_INTS,
    "transcript_agg_1h_ints": SQL_TRANSCRIPT_AGG_1H_INTS,
    "transcript_agg_1d_ints": SQL_TRANSCRIPT_AGG_1D_INTS,
    "transcript_pack_meta": SQL_TRANSCRIPT_PACK_META,
    **{name: sql for name, (_b, sql) in EV_REGISTRY.items()},
}
