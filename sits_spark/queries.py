"""Driver-facing query registry: every implemented operator as a
(Spark builder, DuckDB oracle SQL) pair over the driver's parquet tables.

Each entry re-expresses a reference operator family (file:line cited per
query, SURVEY.md §2) over the `events` (time-series), TPC-H-ish,
`documents` and `embeddings` tables. The Spark side is DataFrame-API /
Catalyst-native; the SQL string is the independent DuckDB oracle the
driver hashes against.

Where an ``api`` verb implements the operator (reduce, smooth, segment,
patterns, merge, select, detect_change_dtw, smote), the builder calls it
and only renames and rounds, so the oracle checks the code users run.

Determinism rules (so order-insensitive value hashes match exactly):
- selection-based stats (min/max/median/quantile/first-by-order) use raw
  input doubles — bit-deterministic;
- accumulation-based stats sum EXACT decimals, divide in double;
- any residually order-sensitive float (skew, entropy, cosine) is rounded
  to 6 dp on BOTH sides (error ~1e-12 << 5e-7 rounding step);
- every ranking uses a total order (value desc, key asc).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .session import read_parquet


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Scale-adaptive compute spreading (guide §2.2, §2.5, §6).

    The driver tables are single-row-group parquet files, and a parquet
    row group is the minimum split unit — so every one of them scans as
    ONE task regardless of ``maxPartitionBytes``, serializing all
    pre-exchange per-row work (md5, shingling, dot products, decimal
    partial aggregation) onto one core. When the scan has fewer
    partitions than the cluster's parallelism, hash-repartition on
    ``key`` so per-row compute uses the whole cluster; when the input
    scans parallel already (the 100 TB case) this is a NO-OP — no extra
    exchange. ``key`` is chosen as the caller's downstream grouping /
    window key where possible, so the inserted exchange SATISFIES the
    next operator's distribution requirement and replaces — not adds
    to — the plan's exchange count. Hash partitioning (not round-robin)
    keeps the row->partition map deterministic under task retry
    (SPARK-38388) and skips round-robin's sort-before-repartition.
    Results are unchanged: every caller's arithmetic is
    partition-order-free (exact ints/decimals, min/max/percentile
    selection, or per-row projections)."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    if key is None:
        return df.repartition(p)
    return df.repartition(p, F.col(key))


def _r6(col):
    return F.round(col, 6)


_DEC = "decimal(18,4)"


# ---------------------------------------------------------------------------
# A. time-series core over `events` (key = user_id, index = ts, band = value)
# ---------------------------------------------------------------------------


def ts_reduce_stats(spark, sf_dir):
    """sits_reduce kernel family (/root/reference/src/reduce_fns.cpp:12-92)
    as one grouped aggregation (api.reduce)."""
    from . import api

    red = api.reduce(
        _t(spark, sf_dir, "events"), ["user_id"], "value",
        ["count", "mean", "min", "max", "amplitude", "median", "std", "q25", "q75", "iqr"],
    )
    return red.select(
        "user_id", F.col("count").alias("n_events"), _r6("mean").alias("v_mean"),
        F.col("min").alias("v_min"), F.col("max").alias("v_max"),
        _r6("amplitude").alias("v_amplitude"), _r6("median").alias("v_median"),
        _r6("std").alias("v_std"), _r6("q25").alias("v_fqr"), _r6("q75").alias("v_tqr"),
        _r6("iqr").alias("v_iqr"),
    )


SQL_TS_REDUCE_STATS = f"""
SELECT user_id,
       count(value) AS n_events,
       CAST(round(CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(value), 6) AS DOUBLE) AS v_mean,
       min(value) AS v_min,
       max(value) AS v_max,
       CAST(round(max(value) - min(value), 6) AS DOUBLE) AS v_amplitude,
       CAST(round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS DOUBLE) AS v_median,
       CAST(round(sqrt((CAST(CAST(sum(CAST(value AS {_DEC}) * CAST(value AS {_DEC})) AS VARCHAR) AS DOUBLE)
             - CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) * CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(value))
             / (count(value) - 1.0)), 6) AS DOUBLE) AS v_std,
       CAST(round(CAST(quantile_cont(value, 0.25) AS DOUBLE), 6) AS DOUBLE) AS v_fqr,
       CAST(round(CAST(quantile_cont(value, 0.75) AS DOUBLE), 6) AS DOUBLE) AS v_tqr,
       CAST(round(CAST(quantile_cont(value, 0.75) AS DOUBLE) - CAST(quantile_cont(value, 0.25) AS DOUBLE), 6) AS DOUBLE) AS v_iqr
FROM events GROUP BY user_id
"""


def ts_reduce_fslope(spark, sf_dir):
    """t_fslope: max |first difference| per series ordered by (ts, event_id)
    (/root/reference/src/reduce_fns.cpp:68-70)."""
    from . import api

    e = _t(spark, sf_dir, "events")
    red = api.reduce(e, ["user_id"], "value", ["fslope"], order_by=["ts", "event_id"])
    return red.select("user_id", _r6("fslope").alias("v_fslope"))


SQL_TS_REDUCE_FSLOPE = """
SELECT user_id, CAST(round(max(d), 6) AS DOUBLE) AS v_fslope
FROM (SELECT user_id, abs(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS d FROM events)
GROUP BY user_id
"""


def ts_reduce_skew_kurt(spark, sf_dir):
    """t_skewness / t_kurtosis with the reference's exact formulas
    (/root/reference/src/reduce_fns.cpp:37-60), two-pass central moments."""
    from . import api

    red = api.reduce(_t(spark, sf_dir, "events"), ["user_id"], "value", ["skew", "kurt"])
    return red.select("user_id", _r6("skew").alias("v_skew"), _r6("kurt").alias("v_kurt"))


SQL_TS_REDUCE_SKEW_KURT = f"""
WITH m AS (
  SELECT user_id, CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(value) AS m
  FROM events GROUP BY user_id
)
SELECT e.user_id,
       CAST(round((sum(pow(e.value - m.m, 3)) / count(*))
            / pow(sum(pow(e.value - m.m, 2)) / count(*), 1.5)
            * (sqrt(count(*) * (count(*) - 1.0)) / count(*) - 2.0), 6) AS DOUBLE) AS v_skew,
       CAST(round(count(*) * sum(pow(e.value - m.m, 4))
            / pow(sum(pow(e.value - m.m, 2)), 2.0), 6) AS DOUBLE) AS v_kurt
FROM events e JOIN m ON e.user_id = m.user_id
GROUP BY e.user_id
"""


def ts_regularize_first(spark, sf_dir):
    """Regularization aggregate: first value per period bucket in
    deterministic quality order — the `agg_method="first"` +
    least-cloud-first pattern (/root/reference/R/api_regularize.R:68-73,
    R/api_gdalcubes.R:14-47,556-564); here order = (ts, event_id).

    One-pass aggregate: min_by over the (ts, event_id) ordering struct
    replaces row_number's window sort-shuffle — map-side partial_min_by
    collapses each mapper to one row per (key, day) BEFORE the exchange,
    so at 100x data the shuffle carries group cardinality, not event
    cardinality (plan asserted in tests/test_spark_pipeline.py)."""
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    return (
        e.select("user_id", day, "value", "ts", "event_id")
        .groupBy("user_id", "day")
        .agg(F.min_by("value", F.struct("ts", "event_id")).alias("first_value"))
    )


SQL_TS_REGULARIZE_FIRST = """
SELECT user_id, day, first_value FROM (
  SELECT user_id, date_trunc('day', ts) AS day, value AS first_value,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def ts_grid_gapfill_day(spark, sf_dir):
    """Timeline materialization with empty slots + LOCF fill: the
    regular-grid + gap-slot pattern (/root/reference/R/api_regularize.R:91-103)
    and LOCF trailing fill (/root/reference/src/linear_interp.cpp:47-54) as
    pure SQL (sequence/explode + last IGNORE NULLS)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _r6(
            F.sum(F.col("value").cast(_DEC)).cast("double") / F.count(F.lit(1))
        ).alias("v_mean"),
    )
    # round 6 note: a lead()+explode rewrite (grid rows generated
    # directly from each present day, no join) was measured 2x SLOWER at
    # 10x scale — sequence(ts, ts, INTERVAL) has per-CALL overhead that
    # the original amortizes over one long span per user (1.5k calls x
    # ~300 days) but the rewrite paid per daily row (445k calls x ~1
    # day). Kept the join shape (guide §1.1: measure the "ideal" plan
    # before believing it).
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    g = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return g.select(
        "user_id",
        "day",
        F.col("n").isNotNull().alias("present"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.col("v_mean"),
        F.last("v_mean", ignorenulls=True).over(w).alias("v_locf"),
    )


SQL_TS_GRID_GAPFILL_DAY = f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n,
         CAST(round(CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(*), 6) AS DOUBLE) AS v_mean
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id)
)
SELECT g.user_id, g.day,
       d.n IS NOT NULL AS present,
       coalesce(d.n, 0) AS n_events,
       d.v_mean AS v_mean,
       last_value(d.v_mean IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
"""


def ts_acq_summary_hour(spark, sf_dir):
    """Acquisition summary: counts per (entity, period)
    (/root/reference/R/api_cube.R:834-887)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))


SQL_TS_ACQ_SUMMARY_HOUR = """
SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def ts_select_interval(spark, sf_dir):
    """sits_select temporal interval + value-range predicate
    (/root/reference/R/api_select.R:42-52, R/api_ts.R:306-309)."""
    from . import api

    sel = api.select(_t(spark, sf_dir, "events"), start="2024-01-10", end="2024-01-20")
    clamped = F.when(F.col("value").between(50.0, 150.0), F.col("value"))
    return sel.select(
        "event_id", "user_id", "ts", "event_type", "value", clamped.alias("value_clamped")
    )


SQL_TS_SELECT_INTERVAL = """
SELECT event_id, user_id, ts, event_type, value,
       CASE WHEN value BETWEEN 50.0 AND 150.0 THEN value END AS value_clamped
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
"""


def ts_asof_zipper(spark, sf_dir):
    """The merge zipper / as-of alignment
    (/root/reference/R/api_merge.R:51-85): each click gets the latest
    purchase value at or before its ts, per user. Purchases deduped to
    max(value) per (user, ts) so the as-of pick is total-ordered."""
    e = _t(spark, sf_dir, "events")
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
        .select("user_id", "ts", "pv", F.lit(0).alias("pri"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value", F.lit(None).cast("double").alias("pv"), F.lit(1).alias("pri")
    )
    mixed = purchases.select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"), "pv", "pri"
    ).unionByName(clicks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "pri")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        mixed.withColumn("last_purchase_value", F.last("pv", ignorenulls=True).over(w))
        .where(F.col("pri") == 1)
        .select("event_id", "user_id", "ts", "value", "last_purchase_value")
    )


SQL_TS_ASOF_ZIPPER = """
WITH p AS (
  SELECT user_id, ts, max(value) AS pv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
c AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id, c.ts, c.value, p.pv AS last_purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def ts_merge_bind(spark, sf_dir):
    """Cube merge, bind strategy = row union
    (/root/reference/R/api_merge.R:131-143)."""
    from . import api

    e = _t(spark, sf_dir, "events")
    a = api.select(e, where=F.col("event_type") == "click")
    b = api.select(e, where=F.col("event_type") == "error")
    bound = api.merge(a, b, "bind")
    return bound.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))


SQL_TS_MERGE_BIND = """
SELECT user_id, event_type, count(*) AS n FROM (
  SELECT * FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT * FROM events WHERE event_type = 'error'
) GROUP BY 1, 2
"""


def ts_timeline_intersection(spark, sf_dir):
    """Timeline intersection: max-of-mins .. min-of-maxes across series
    groups (/root/reference/R/api_gdalcubes.R:318-367)."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    return per.agg(
        F.max("mn").alias("common_start"), F.min("mx").alias("common_end")
    )


SQL_TS_TIMELINE_INTERSECTION = """
SELECT max(mn) AS common_start, min(mx) AS common_end
FROM (SELECT event_type, min(ts) AS mn, max(ts) AS mx FROM events GROUP BY 1)
"""


def ts_argmax_label(spark, sf_dir):
    """Label argmax (/root/reference/src/label_class.cpp:6-10): each
    user's most frequent event_type; ties broken lexicographically."""
    e = _t(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_type"), "n")
    )


SQL_TS_ARGMAX_LABEL = """
SELECT user_id, event_type AS top_type, n FROM (
  SELECT user_id, event_type, count(*) AS n,
         row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


def ts_entropy_uncertainty(spark, sf_dir):
    """Uncertainty / entropy measure (/root/reference/src/uncertainty.cpp:7-25):
    Shannon entropy of each user's event_type distribution."""
    e = _t(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("user_id").agg(F.sum("n").alias("t"))
    p = cnt.join(tot, "user_id").select(
        "user_id", (F.col("n").cast("double") / F.col("t")).alias("p")
    )
    return p.groupBy("user_id").agg(
        _r6(-F.sum(F.col("p") * F.log("p"))).alias("entropy")
    )


SQL_TS_ENTROPY_UNCERTAINTY = """
WITH cnt AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
tot AS (SELECT user_id, sum(n) AS t FROM cnt GROUP BY 1)
SELECT cnt.user_id,
       CAST(round(-sum((CAST(n AS DOUBLE) / t) * ln(CAST(n AS DOUBLE) / t)), 6) AS DOUBLE) AS entropy
FROM cnt JOIN tot ON cnt.user_id = tot.user_id
GROUP BY cnt.user_id
"""


def ts_normalize_minmax(spark, sf_dir):
    """Min-max normalization with clamp [0.0001, 1]
    (/root/reference/src/normalize_data.cpp:10-20), per event_type."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    norm = (F.col("value") - F.min("value").over(w)) / (
        F.max("value").over(w) - F.min("value").over(w)
    )
    return e.select(
        "event_id",
        "event_type",
        _r6(F.greatest(F.least(norm, F.lit(1.0)), F.lit(0.0001))).alias("v_norm"),
    )


SQL_TS_NORMALIZE_MINMAX = """
SELECT event_id, event_type,
       CAST(round(greatest(least((value - min(value) OVER (PARTITION BY event_type))
         / (max(value) OVER (PARTITION BY event_type) - min(value) OVER (PARTITION BY event_type)),
         1.0), 0.0001), 6) AS DOUBLE) AS v_norm
FROM events
"""


def ts_cascade_1h_1d(spark, sf_dir):
    """Tier cascade: daily aggregates re-composed from hourly partials
    (sums/counts compose exactly — our 1m->1h->1d retention design;
    oracle aggregates days directly, proving composition exactness)."""
    e = _spread(_t(spark, sf_dir, "events"), "user_id")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_DEC)).alias("sv"),
    )
    return (
        hourly.groupBy(
            "user_id", F.date_trunc("day", "hour").alias("day")
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
    )


SQL_TS_CASCADE_1H_1D = f"""
SELECT user_id, date_trunc('day', ts) AS day,
       count(*) AS n_events,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def ts_hash_sample(spark, sf_dir):
    """Deterministic stratification stand-in for sits_sample
    (/root/reference/R/sits_sample_functions.R:27): portable 1/16 hash
    sample on md5(event_id)."""
    e = _t(spark, sf_dir, "events")
    return e.where(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) == "0"
    ).select("event_id", "user_id", "event_type", "value")


SQL_TS_HASH_SAMPLE = """
SELECT event_id, user_id, event_type, value FROM events
WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
"""


def ts_json_props(spark, sf_dir):
    """Scalar JSON extraction over the props column (SURVEY.md §2.8 —
    reference has no JSON; transcripts metadata does)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_k")
    )


SQL_TS_JSON_PROPS = """
SELECT event_type, CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(props->>'k' AS BIGINT)) AS n_k
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# B. joins / TPC-H-ish
# ---------------------------------------------------------------------------


def join_dim_rollup(spark, sf_dir):
    """Polygon-average analog (/root/reference/R/api_data.R:457-490):
    events joined through broadcast dims (customer -> nation -> region),
    averaged per region."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # nation/region are bounded (25/5 rows) -> broadcast; the
    # customer-derived dim scales with the data -> shuffle join
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("c_custkey"), F.col("r_name"))
    )
    # round 6 (guide §2.3 "aggregate before you shuffle"): collapse the
    # fact table to one exact-decimal partial per user BEFORE the join —
    # the join and final rollup then move user-cardinality rows, not
    # event-cardinality rows. c_custkey is unique, so per-user partials
    # compose exactly (decimal sums are associative; count = sum of
    # per-user counts) and the region totals are bit-identical.
    ua = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_DEC)).alias("sv"),
    )
    j = ua.join(dim, ua.user_id == dim.c_custkey)
    return j.groupBy("r_name").agg(
        F.sum("n").alias("n_events"),
        _r6(F.sum("sv").cast("double") / F.sum("n")).alias("avg_value"),
    )


SQL_JOIN_DIM_ROLLUP = f"""
SELECT r.r_name, count(*) AS n_events,
       CAST(round(CAST(sum(CAST(e.value AS {_DEC})) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avg_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


def join_missing_anti(spark, sf_dir):
    """Missing-jobs anti-join (resume pattern,
    /root/reference/R/api_gdalcubes.R:713-760): customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_JOIN_MISSING_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def tpch_q1(spark, sf_dir):
    """Pricing-summary rollup (TPC-H Q1 shape) with exact decimal sums —
    the engine's general agg path; flagship Catalyst plan."""
    l = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    tax = F.col("l_tax").cast("decimal(6,4)")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("string").cast("double").alias("sum_qty"),
            F.sum(price).cast("string").cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(6,4)") - disc)).cast("string").cast("double").alias("sum_disc_price"),
            F.sum(
                (price * (F.lit(1).cast("decimal(6,4)") - disc))
                * (F.lit(1).cast("decimal(6,4)") + tax)
            ).cast("string").cast("double").alias("sum_charge"),
            _r6(F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            _r6(F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            _r6(F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(sum((CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))))
                * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avg_qty,
       CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avg_price,
       CAST(round(CAST(sum(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3_topk(spark, sf_dir):
    """Join + deterministic top-k (SURVEY.md §2.6 sort/limit family)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    # no broadcast hint on customer: it scales with sf (data-sized); AQE
    # decides broadcast-vs-shuffle from the filtered size at runtime
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .where(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < cutoff)
            & (F.col("l_shipdate") > cutoff)
        )
    )
    agg = j.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(price * (F.lit(1).cast("decimal(6,4)") - disc))
        .cast("string")
        .cast("double")
        .alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


SQL_TPCH_Q3_TOPK = """
SELECT o_orderkey, o_orderdate,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# C. documents: dedup + text analysis
# ---------------------------------------------------------------------------


def doc_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash: every doc mapped to the smallest
    doc_id sharing its md5(text) (hash-groupBy dedup family)."""
    d = _t(spark, sf_dir, "documents")
    h = _spread(d, "doc_id").select("doc_id", F.md5("text").alias("h"))
    # round 6: group min/count as window aggregates over the hash
    # partition — ONE scan and ONE exchange; the old groupBy + self-join
    # re-scanned the table and re-computed md5 on the probe side, and its
    # broadcast of the canonical table would not survive 100 TB. Same
    # rows, same values (min/count over the same h-groups).
    w = Window.partitionBy("h")
    return h.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.count(F.lit(1)).over(w) > 1).alias("is_dup"),
    )


SQL_DOC_DEDUP_EXACT = """
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
c AS (SELECT h, min(doc_id) AS canonical_id, count(*) AS group_n FROM h GROUP BY h)
SELECT h.doc_id, c.canonical_id, c.group_n > 1 AS is_dup
FROM h JOIN c ON h.h = c.h
"""


def _shingles(d):
    """doc_id + exploded distinct 3-gram shingles of pre-split text.

    Guarded for short documents: Spark's sequence(0, size-3) with size<3
    yields a DESCENDING sequence whose negative/overflow indexes throw
    under ANSI mode — a <3-word doc must contribute NO shingles (matching
    the oracle's generate_series(1, len-2) emitting nothing)."""
    return d.select("doc_id", F.split("text", r"\s+").alias("w")).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(w) >= 3 THEN"
                    " transform(sequence(0, size(w) - 3),"
                    "   i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"
                    " ELSE CAST(array() AS array<string>) END"
                )
            )
        ).alias("s"),
    )


def doc_ngram_jaccard(spark, sf_dir):
    """N-gram Jaccard near-dup detection: word-3-gram shingles, rare
    shingles only (df <= 20 — the standard inverted-index pruning), pairs
    with Jaccard >= 0.5 over rare-shingle sets."""
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    # materialize split(text) ONCE per row: Catalyst does no CSE inside
    # lambda bodies, so indexing the split inline re-tokenizes the document
    # for every shingle (O(len^2) per doc)
    sh = _shingles(d)
    # round 6 (guide §2.4): ONE groupBy(s) yields both the document
    # frequency AND the per-shingle doc bucket — the old shape computed
    # the shingle table three more times (df_cnt agg, then BOTH sides of
    # a self-join keyed on the shingle STRING, shuffling the strings
    # twice more). In-bucket pair generation over the df<=20 buckets
    # emits exactly the old join's (doc_a < doc_b) rows (one per shared
    # rare shingle), so `common` and the Jaccard are value-identical.
    # Measured at 10x: 24.6 s -> (see OPTIMIZATION_r06.md).
    grp = sh.groupBy("s").agg(F.collect_list("doc_id").alias("ids"))
    rare_b = grp.where(F.size("ids") <= 20)
    rare = rare_b.select(F.explode("ids").alias("doc_id"))
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pair_rows = rare_b.where(F.size("ids") > 1).select(
        F.explode(
            F.expr(
                "flatten(transform(ids,"
                "  x -> transform(filter(ids, y -> x < y),"
                "    y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    common = pair_rows.groupBy(
        F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
    ).agg(F.count(F.lit(1)).alias("common"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _r6(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )


SQL_DOC_NGRAM_JACCARD = """
WITH words AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM words,
    UNNEST(list_transform(generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS t(s)
),
rare AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20)),
sizes AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(round(common / (sa.sz + sb.sz - common), 6) AS DOUBLE) AS jaccard
FROM pairs JOIN sizes sa ON pairs.doc_a = sa.doc_id
           JOIN sizes sb ON pairs.doc_b = sb.doc_id
WHERE common / (sa.sz + sb.sz - common) >= 0.5
"""


_MINHASH_K = 16
_MINHASH_P = 1_000_003
_MINHASH_AB = [(97 + 13 * i, 31 + 7 * i) for i in range(_MINHASH_K)]


def doc_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: portable word hash
    over 3-gram SHINGLES (the brief's shingle->minhash->band->bucket-join
    pipeline): h(s) = int(md5(s)[:8], 16); k=16 permutations (a*h+b) mod
    p; 4 bands of 4 rows each; candidate pairs collide on >= 1 band (OR
    across bands — the banding recall structure of the LSH scheme).
    Shingling is load-bearing: this corpus has a 31-word vocabulary with
    30 words in ~78% of docs, so WORD-set signatures admitted 48-76% of
    all pairs (no pruning); 3-gram sets discriminate.

    Physical shape (round-6 rewrite, guide §2.4): candidate pairs come
    from ONE groupBy (band_id, key) with in-bucket pair generation —
    the same bounded-bucket work the old band self-join did, minus the
    broadcast build of a second full copy of the band table (the
    signature pipeline stays the codegen'd explode + 16-way min hash
    aggregate: an array-fold variant was measured 4x SLOWER because
    higher-order lambdas run interpreted, guide §1.1 "a fresh
    implementation of the ideal plan is usually slower at first").
    Values are unchanged: same md5 hash, same (a*h+b) % p permutations,
    same bands, same distinct pair set."""
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    h = _shingles(d).select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    mins = h.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(_MINHASH_AB)
        ]
    )
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"m{4 * bi + r}").cast("string")
                                for r in range(4)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(_MINHASH_K // 4)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", F.col("bd.band_id").alias("band_id"), F.col("bd.key").alias("key"))
    buckets = bands.groupBy("band_id", "key").agg(
        F.collect_list("doc_id").alias("ids")
    )
    pairs = buckets.where(F.size("ids") > 1).select(
        F.explode(
            F.expr(
                "flatten(transform(ids,"
                "  x -> transform(filter(ids, y -> x < y),"
                "    y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _sql_minhash() -> str:
    mins = ",\n  ".join(
        f"min(({a} * h + {b}) % {_MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band_id, {key} AS key FROM mins".format(
            bi=bi,
            key=" || ':' || ".join(
                f"CAST(m{4 * bi + r} AS VARCHAR)" for r in range(4)
            ),
        )
        for bi in range(_MINHASH_K // 4)
    )
    return f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM toks,
    UNNEST(list_transform(generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS t(s)
),
h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM sh),
mins AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id
"""


SQL_DOC_MINHASH_LSH = _sql_minhash()

_STOPWORDS = "('the', 'a', 'of', 'and', 'to', 'in')"


def doc_text_quality(spark, sf_dir):
    """Text quality scoring: token count, punctuation ratio, stopword
    ratio, composite quality score (training-data pipeline op)."""
    d = _t(spark, sf_dir, "documents")
    # round 6 note: a staged-projection variant (tokenize once, compute
    # ratios from named count columns) measured consistently ~15% SLOWER
    # at 10x scale than this flat form — whole-stage codegen's
    # subexpression elimination already de-duplicates the repeated
    # split/regexp trees, and the extra projection nodes only added
    # boundaries. Kept flat (guide §1.1: measure before believing).
    words = F.split(F.col("text"), r"\s+")
    n_tok = F.size(words)
    n_stop = F.size(F.expr(f"filter(split(text, '\\\\s+'), w -> w IN {_STOPWORDS})"))
    n_punct = F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", ""))
    stop_ratio = n_stop.cast("double") / n_tok
    punct_ratio = n_punct.cast("double") / F.length("text")
    quality = F.lit(1.0) - punct_ratio - F.when(stop_ratio > 0.5, stop_ratio - 0.5).otherwise(0.0)
    return d.select(
        "doc_id",
        n_tok.alias("token_count"),
        n_stop.alias("stopword_count"),
        _r6(punct_ratio).alias("punct_ratio"),
        _r6(stop_ratio).alias("stopword_ratio"),
        _r6(quality).alias("quality_score"),
    )


SQL_DOC_TEXT_QUALITY = f"""
SELECT doc_id,
       len(regexp_split_to_array(text, '\\s+')) AS token_count,
       len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w IN {_STOPWORDS})) AS stopword_count,
       CAST(round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 6) AS DOUBLE) AS punct_ratio,
       CAST(round(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w IN {_STOPWORDS})) AS DOUBLE)
            / len(regexp_split_to_array(text, '\\s+')), 6) AS DOUBLE) AS stopword_ratio,
       CAST(round(1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
            - CASE WHEN CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w IN {_STOPWORDS})) AS DOUBLE)
                        / len(regexp_split_to_array(text, '\\s+')) > 0.5
                   THEN CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w IN {_STOPWORDS})) AS DOUBLE)
                        / len(regexp_split_to_array(text, '\\s+')) - 0.5
                   ELSE 0.0 END, 6) AS DOUBLE) AS quality_score
FROM documents
"""


def doc_langid(spark, sf_dir):
    """Heuristic language ID: ordered marker-word cascade (n-gram
    heuristic family; deterministic, shared with oracle)."""
    d = _t(spark, sf_dir, "documents")
    t = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    pred = (
        F.when(t.contains("的"), "zh")
        .when(t.contains(" der ") | t.contains(" und "), "de")
        .when(t.contains(" el ") | t.contains(" la "), "es")
        .when(t.contains(" le ") | t.contains(" les "), "fr")
        .otherwise("en")
    )
    return d.select("doc_id", "lang", pred.alias("lang_pred"))


SQL_DOC_LANGID = """
SELECT doc_id, lang,
       CASE WHEN contains(' ' || text || ' ', '的') THEN 'zh'
            WHEN contains(' ' || text || ' ', ' der ') OR contains(' ' || text || ' ', ' und ') THEN 'de'
            WHEN contains(' ' || text || ' ', ' el ') OR contains(' ' || text || ' ', ' la ') THEN 'es'
            WHEN contains(' ' || text || ' ', ' le ') OR contains(' ' || text || ' ', ' les ') THEN 'fr'
            ELSE 'en' END AS lang_pred
FROM documents
"""


def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of whitespace-normalized lowercased
    text + byte length of the utf-8 payload (binary-column plumbing)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower("text"), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
    )


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
       octet_length(encode(text)) AS n_bytes
FROM documents
"""


# ---------------------------------------------------------------------------
# D. embeddings: similarity search
# ---------------------------------------------------------------------------


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def emb_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline: queries = vec_id < 10,
    k = 5; rank by (rounded sim desc, vec_id asc).

    Round-6 shape (guide §1.2 "per-task work"): each side's norm
    sqrt(dot(v,v)) is computed ONCE per vector before the join instead
    of once per (candidate, query) pair — the pair row evaluates one
    sequential-fold dot instead of three (same expression on the same
    values, so the arithmetic is bit-identical to the oracle's)."""
    e = _t(spark, sf_dir, "embeddings")
    en = _spread(e, "vec_id").select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    q = en.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = en.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    j = c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = j.select("query_id", "neighbor_id", _r6(sim).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


SQL_EMB_KNN_COSINE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         CAST(round(list_dot_product(qv, cv) /
              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS DOUBLE) AS cosine
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s
) WHERE rank <= 5
"""

# Banded sign-LSH (random-hyperplane scheme, multiple hash tables):
# _ANN_BANDS OR'd bands of _ANN_BITS sign bits each. Candidates collide in
# >= 1 band; in-band bucket count = 2^bits, so expected in-bucket pair
# density ~ bands * n^2 / 2^bits. 100 TB rule: _ANN_BITS scales as
# log2(n / target_bucket_size) — the knob that keeps buckets O(1) as the
# corpus grows; bands buys back recall linearly in cost.
#
# The sign bits are taken over QUANTIZED embeddings (int(floor(x*1024 +
# 0.5))): with +-1 planes the dot product is a sum of small integers,
# exact in float64 under ANY summation order — so a numpy gemm on the
# Spark side and DuckDB's sequential list_dot_product are guaranteed to
# agree on every sign, which a float-embedding dot cannot promise. The
# Spark side computes all 32 bits in ONE mapInArrow matrix multiply into
# a packed bigint (r3's per-bit Catalyst trees — 32 dots x 64 literals,
# re-derived on both join sides — were the 2.2x ANN regression).
_ANN_BANDS = 4
_ANN_BITS = 8
_N_PLANES = _ANN_BANDS * _ANN_BITS
_ANN_QSCALE = 1024


def _plane(j: int) -> list[float]:
    """Deterministic pseudo-random +-1 hyperplane, shared with SQL as
    literals. LCG-seeded so every j gives a genuinely distinct plane —
    a closed-form pattern like ((i*7 + j*13 + i*j) % 5) is periodic in j
    (plane(j) == plane(j+5)) and silently collapses the bit space."""
    x = (j * 2654435761 + 12345) % (1 << 32)
    out = []
    for _ in range(64):
        x = (x * 1664525 + 1013904223) % (1 << 32)
        out.append(1.0 if x < (1 << 31) else -1.0)
    return out


def _packed_lsh_keys(batches):
    """mapInArrow kernel: all _N_PLANES sign bits per vector in one
    float64 gemm (quantized values are integral and small, so every
    partial sum is exact — order-independent, matches the SQL oracle's
    sequential dot bit-for-bit). Emits the input columns + packed
    bigint; band b's key is (packed >> b*_ANN_BITS) & (2^_ANN_BITS - 1)."""
    import numpy as np
    import pyarrow as pa

    P = np.array([_plane(j) for j in range(_N_PLANES)], dtype=np.float64).T
    weights = np.uint64(1) << np.arange(_N_PLANES, dtype=np.uint64)
    for batch in batches:
        emb = batch.column("embedding")
        vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        E = vals.reshape(len(batch), -1)
        Q = np.floor(E * _ANN_QSCALE + 0.5)
        packed = ((Q @ P > 0) * weights).sum(axis=1).astype(np.int64)
        yield pa.RecordBatch.from_arrays(
            [*batch.columns, pa.array(packed, type=pa.int64())],
            names=[*batch.schema.names, "packed"],
        )


def _with_packed(df):
    """df + packed 32-bit LSH signature, computed once per vector. Apply
    AFTER any row filter — predicates do not push through mapInArrow."""
    return df.mapInArrow(
        _packed_lsh_keys,
        schema="vec_id long, embedding array<float>, label int, packed long",
    )


def _keyed_embeddings(spark, sf_dir):
    return _with_packed(_t(spark, sf_dir, "embeddings"))


def _bands_frame(keyed):
    """(vec_id, embedding, band_id, key) long form from a packed frame."""
    entries = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _band_key_col(b).alias("key"))
            for b in range(_ANN_BANDS)
        ]
    )
    return keyed.select(
        "vec_id", "embedding", F.explode(entries).alias("bk")
    ).select("vec_id", "embedding", F.col("bk.band_id"), F.col("bk.key"))


def _band_key_col(band: int):
    """band key from the packed signature — pure bit arithmetic."""
    return F.shiftright(F.col("packed"), band * _ANN_BITS).bitwiseAND(
        F.lit((1 << _ANN_BITS) - 1)
    ).cast("int")


_SQL_QINT = f"list_transform(embedding::DOUBLE[], x -> floor(x * {_ANN_QSCALE} + 0.5))"


def _sql_band_key(band: int) -> str:
    terms = []
    for k in range(_ANN_BITS):
        arr = ", ".join(str(v) for v in _plane(band * _ANN_BITS + k))
        terms.append(
            f"(CASE WHEN list_dot_product(qint, [{arr}]) > 0 THEN 1 ELSE 0 END) * {2**k}"
        )
    return " + ".join(terms)


def emb_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucketing (random-hyperplane scheme): band 0's 8 sign
    bits -> bucket id. The single-table primitive; the ANN/near-dup
    queries below OR several such tables (banding) for recall."""
    return _keyed_embeddings(spark, sf_dir).select(
        "vec_id", "label", _band_key_col(0).alias("bucket")
    )


def _sql_lsh() -> str:
    return (
        f"SELECT vec_id, label, {_sql_band_key(0)} AS bucket "
        f"FROM (SELECT vec_id, label, {_SQL_QINT} AS qint FROM embeddings)"
    )


SQL_EMB_LSH_BUCKETS = _sql_lsh()


def emb_lsh_bands(spark, sf_dir):
    """(vec_id, band_id, key) long form: each vector appears once per
    band — the multiple-hash-table layout every banded join keys on.
    All keys derive from one packed signature column by bit arithmetic."""
    return _bands_frame(_keyed_embeddings(spark, sf_dir))


def _sql_bands() -> str:
    parts = [
        f"SELECT vec_id, embedding, {b} AS band_id, {_sql_band_key(b)} AS key FROM qint_t"
        for b in range(_ANN_BANDS)
    ]
    u = " UNION ALL ".join(parts)
    return (
        f"SELECT * FROM (WITH qint_t AS "
        f"(SELECT vec_id, embedding, {_SQL_QINT} AS qint FROM embeddings) {u})"
    )


def emb_label_knn_purity(spark, sf_dir):
    """ANN quality probe: majority label among each query's top-5
    neighbors (exercises knn + argmax composition)."""
    knn = emb_knn_cosine(spark, sf_dir)
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    # knn is k*n_queries rows (tiny); the label table scales with data
    j = e.join(F.broadcast(knn), "neighbor_id")
    cnt = j.groupBy("query_id", "n_label").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("query_id").orderBy(F.desc("n"), F.asc("n_label"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("majority_label"), "n")
    )


SQL_EMB_LABEL_KNN_PURITY = f"""
WITH knn AS ({SQL_EMB_KNN_COSINE}),
j AS (SELECT knn.query_id, e.label AS n_label FROM knn JOIN embeddings e ON knn.neighbor_id = e.vec_id),
cnt AS (SELECT query_id, n_label, count(*) AS n FROM j GROUP BY 1, 2)
SELECT query_id, n_label AS majority_label, n FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY n DESC, n_label ASC) AS rn FROM cnt
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "ts_reduce_stats": (ts_reduce_stats, SQL_TS_REDUCE_STATS),
    "ts_reduce_fslope": (ts_reduce_fslope, SQL_TS_REDUCE_FSLOPE),
    "ts_reduce_skew_kurt": (ts_reduce_skew_kurt, SQL_TS_REDUCE_SKEW_KURT),
    "ts_regularize_first": (ts_regularize_first, SQL_TS_REGULARIZE_FIRST),
    "ts_grid_gapfill_day": (ts_grid_gapfill_day, SQL_TS_GRID_GAPFILL_DAY),
    "ts_acq_summary_hour": (ts_acq_summary_hour, SQL_TS_ACQ_SUMMARY_HOUR),
    "ts_select_interval": (ts_select_interval, SQL_TS_SELECT_INTERVAL),
    "ts_asof_zipper": (ts_asof_zipper, SQL_TS_ASOF_ZIPPER),
    "ts_merge_bind": (ts_merge_bind, SQL_TS_MERGE_BIND),
    "ts_timeline_intersection": (ts_timeline_intersection, SQL_TS_TIMELINE_INTERSECTION),
    "ts_argmax_label": (ts_argmax_label, SQL_TS_ARGMAX_LABEL),
    "ts_entropy_uncertainty": (ts_entropy_uncertainty, SQL_TS_ENTROPY_UNCERTAINTY),
    "ts_normalize_minmax": (ts_normalize_minmax, SQL_TS_NORMALIZE_MINMAX),
    "ts_cascade_1h_1d": (ts_cascade_1h_1d, SQL_TS_CASCADE_1H_1D),
    "ts_hash_sample": (ts_hash_sample, SQL_TS_HASH_SAMPLE),
    "ts_json_props": (ts_json_props, SQL_TS_JSON_PROPS),
    "join_dim_rollup": (join_dim_rollup, SQL_JOIN_DIM_ROLLUP),
    "join_missing_anti": (join_missing_anti, SQL_JOIN_MISSING_ANTI),
    "tpch_q1": (tpch_q1, SQL_TPCH_Q1),
    "tpch_q3_topk": (tpch_q3_topk, SQL_TPCH_Q3_TOPK),
    "doc_dedup_exact": (doc_dedup_exact, SQL_DOC_DEDUP_EXACT),
    "doc_ngram_jaccard": (doc_ngram_jaccard, SQL_DOC_NGRAM_JACCARD),
    "doc_minhash_lsh": (doc_minhash_lsh, SQL_DOC_MINHASH_LSH),
    "doc_text_quality": (doc_text_quality, SQL_DOC_TEXT_QUALITY),
    "doc_langid": (doc_langid, SQL_DOC_LANGID),
    "doc_fingerprint": (doc_fingerprint, SQL_DOC_FINGERPRINT),
    "emb_knn_cosine": (emb_knn_cosine, SQL_EMB_KNN_COSINE),
    "emb_lsh_buckets": (emb_lsh_buckets, SQL_EMB_LSH_BUCKETS),
    "emb_label_knn_purity": (emb_label_knn_purity, SQL_EMB_LABEL_KNN_PURITY),
}


# ---------------------------------------------------------------------------
# E. round-2 additions: bucketed ANN, spectral/focal/uncertainty kernels,
#    stratified sampling, ensemble combine, bayts change detection
# ---------------------------------------------------------------------------


def emb_ann_lsh_topk(spark, sf_dir):
    """Banded ANN join — the 100 TB path for kNN: _ANN_BANDS OR'd sign-LSH
    hash tables (emb_lsh_bands); a query meets only candidates sharing a
    (band_id, key) — an equi-join, no cartesian — candidate pairs are
    deduped across bands BEFORE scoring, then cosine re-ranked. In-bucket
    pair count ~ bands * n^2 / 2^bits per join key; bits scales with
    log(n) at deployment (see _ANN_BITS note). Recall < exact kNN by
    design; emb_knn_cosine stays as the quality yardstick, floor asserted
    in tests/test_oracle.py."""
    e = _t(spark, sf_dir, "embeddings")
    # query side: filter BEFORE the Arrow key stage (predicates do not
    # push through mapInArrow), so its scan + gemm touch only 10 vectors
    q = _bands_frame(_with_packed(e.where(F.col("vec_id") < 10))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "band_id",
        "key",
    )
    c = _bands_frame(_with_packed(e)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        "band_id",
        "key",
    )
    # score in the join output, THEN dedup across bands: a duplicate
    # pair's cosine is identical, so min() collapses it — the dedup
    # shuffle carries one scalar per pair instead of two 64-float vectors.
    # Round-6 note: precomputing norms per band row (like emb_knn_cosine)
    # measured ~30% SLOWER here — this join is so selective (10 query
    # vectors) that per-PAIR norms are fewer evaluations than per-band-row
    # norms; the knn cross join has the opposite cardinality.
    sim = _dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(_dot(F.col("cv"), F.col("cv")))
    )
    scored = (
        c.join(F.broadcast(q), ["band_id", "key"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _r6(sim).alias("cosine"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


SQL_EMB_ANN_LSH_TOPK = f"""
WITH bands AS ({_sql_bands()}),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, band_id, key
      FROM bands WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, band_id, key
      FROM bands),
s AS (
  SELECT query_id, neighbor_id, min(cosine) AS cosine FROM (
    SELECT query_id, neighbor_id,
           CAST(round(list_dot_product(qv, cv) /
                (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS DOUBLE) AS cosine
    FROM c JOIN q USING (band_id, key) WHERE neighbor_id <> query_id
  ) GROUP BY 1, 2
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s
) WHERE rank <= 5
"""


def ts_mse_spectral(spark, sf_dir):
    """t_mse — mean spectral energy of each series
    (/root/reference/src/reduce_fns.cpp:73-76: mean(|FFT(x)|^2)). By
    Parseval's theorem sum_k |FFT(x)_k|^2 = n * sum_i x_i^2 exactly, so
    mean spectral energy == sum of squares — computed as an exact decimal
    aggregate instead of a per-series FFT (the numpy FFT equivalence is
    asserted in tests/test_kernels.py)."""
    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast(_DEC)
    return e.groupBy("user_id").agg(
        _r6(F.sum(v * v).cast("double")).alias("v_mse")
    )


SQL_TS_MSE_SPECTRAL = f"""
SELECT user_id,
       CAST(round(CAST(sum(CAST(value AS {_DEC}) * CAST(value AS {_DEC})) AS DOUBLE), 6) AS DOUBLE) AS v_mse
FROM events GROUP BY user_id
"""


def ts_rolling_focal(spark, sf_dir):
    """Focal/rolling window kernels over +-2 neighbors
    (/root/reference/src/kernel.cpp:22-89 — the FULL family incl. w_modal
    and w_var used by sits_clean's modal filter, R/sits_clean.R —
    applied along the series axis per /root/reference/R/api_apply.R:284-330):
    frame = 5 rows centered on each event in (ts, event_id) order."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    v = F.col("value")
    # w_modal: most frequent value in the frame, ties broken by smallest
    # value (deterministic, unlike mode()); frame is tiny (5), so the
    # nested count expressions are O(25) per row
    modal = (
        "array_min(filter(warr, x -> "
        " size(filter(warr, y -> y = x)) ="
        " array_max(transform(warr, x -> size(filter(warr, y -> y = x))))))"
    )
    return e.withColumn("warr", F.collect_list(v).over(w)).select(
        "event_id",
        "user_id",
        _r6(F.avg(v).over(w)).alias("w_mean"),
        _r6(F.stddev_samp(v).over(w)).alias("w_sd"),
        _r6(F.var_samp(v).over(w)).alias("w_var"),
        F.min(v).over(w).alias("w_min"),
        F.max(v).over(w).alias("w_max"),
        _r6(F.expr(
            "percentile(value, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)"
        )).alias("w_median"),
        F.expr(modal).alias("w_modal"),
    )


SQL_TS_ROLLING_FOCAL = """
SELECT event_id, user_id,
       CAST(round(avg(value) OVER w, 6) AS DOUBLE) AS w_mean,
       CAST(round(stddev_samp(value) OVER w, 6) AS DOUBLE) AS w_sd,
       CAST(round(var_samp(value) OVER w, 6) AS DOUBLE) AS w_var,
       min(value) OVER w AS w_min,
       max(value) OVER w AS w_max,
       CAST(round(CAST(quantile_cont(value, 0.5) OVER w AS DOUBLE), 6) AS DOUBLE) AS w_median,
       list_min(list_filter(warr, x ->
         len(list_filter(warr, y -> y = x)) =
         list_max(list_transform(warr, x -> len(list_filter(warr, y -> y = x)))))) AS w_modal
FROM (
  SELECT *, list(value) OVER w AS warr FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
"""


def ts_softmax_probs(spark, sf_dir):
    """Softmax over per-class scores (/root/reference/src/softmax.cpp:15-37,
    including its global-max log-sum-exp stabilization): scores = mean
    value per (user, event_type) / 100; global max shared exactly like the
    reference's max over the whole matrix."""
    e = _t(spark, sf_dir, "events")
    score = (
        F.sum(F.col("value").cast(_DEC)).cast("double") / F.count(F.lit(1)) / F.lit(100.0)
    )
    sc = e.groupBy("user_id", "event_type").agg(score.alias("s"))
    gmax = sc.agg(F.max("s").alias("gm"))
    j = sc.crossJoin(F.broadcast(gmax))
    w = Window.partitionBy("user_id")
    scale = F.col("gm") + F.log(F.sum(F.exp(F.col("s") - F.col("gm"))).over(w))
    return j.select(
        "user_id",
        "event_type",
        _r6(F.exp(F.col("s") - scale)).alias("p_softmax"),
    )


SQL_TS_SOFTMAX_PROBS = f"""
WITH sc AS (
  SELECT user_id, event_type,
         CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(*) / 100.0 AS s
  FROM events GROUP BY 1, 2
),
gm AS (SELECT max(s) AS gm FROM sc)
SELECT user_id, event_type,
       CAST(round(exp(s - (gm + ln(sum(exp(s - gm)) OVER (PARTITION BY user_id)))), 6) AS DOUBLE) AS p_softmax
FROM sc, gm
"""


def ts_uncertainty_margin(spark, sf_dir):
    """Uncertainty margin + least-confidence + normalized entropy
    (/root/reference/src/uncertainty.cpp:7-25): over each user's
    event_type probability vector. margin = 1 - (p1 - p2);
    least_conf = 1 - max(p); entropy normalized by log(n_classes)."""
    e = _t(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id")
    p = F.col("n").cast("double") / F.sum("n").over(w)
    probs = cnt.select("user_id", p.alias("p"))
    rk = Window.partitionBy("user_id").orderBy(F.desc("p"))
    ranked = probs.withColumn("rn", F.row_number().over(rk))
    return (
        ranked.groupBy("user_id")
        .agg(
            _r6(
                F.lit(1.0)
                - (
                    F.max(F.when(F.col("rn") == 1, F.col("p")))
                    - F.coalesce(F.max(F.when(F.col("rn") == 2, F.col("p"))), F.lit(0.0))
                )
            ).alias("u_margin"),
            _r6(F.lit(1.0) - F.max("p")).alias("u_least_conf"),
            _r6(-F.sum(F.col("p") * F.log("p")) / F.log(F.count(F.lit(1)).cast("double"))).alias("u_entropy_norm"),
        )
    )


SQL_TS_UNCERTAINTY_MARGIN = """
WITH cnt AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
p AS (SELECT user_id, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY user_id) AS p FROM cnt),
r AS (SELECT user_id, p, row_number() OVER (PARTITION BY user_id ORDER BY p DESC) AS rn FROM p)
SELECT user_id,
       CAST(round(1.0 - (max(CASE WHEN rn = 1 THEN p END)
            - coalesce(max(CASE WHEN rn = 2 THEN p END), 0.0)), 6) AS DOUBLE) AS u_margin,
       CAST(round(1.0 - max(p), 6) AS DOUBLE) AS u_least_conf,
       CAST(round(-sum(p * ln(p)) / ln(CAST(count(*) AS DOUBLE)), 6) AS DOUBLE) AS u_entropy_norm
FROM r GROUP BY user_id
"""


_STRATA_FRACTIONS = {"click": 4, "view": 8, "purchase": 1, "error": 2, "signup": 16}


def ts_stratified_sample(spark, sf_dir):
    """Stratified sampling with per-label fractions — sits_sample /
    sits_stratified's per-class allocation
    (/root/reference/R/sits_sample_functions.R:27, R/api_tibble.R:278-291)
    made deterministic: stratum fraction 1/d via md5(event_id) mod d == 0
    (sampleBy semantics, portable to the oracle; Bernoulli-seed sampleBy
    is not cross-engine reproducible)."""
    e = _t(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast("long")
    denom = F.create_map(
        *[x for k, v in _STRATA_FRACTIONS.items() for x in (F.lit(k), F.lit(v))]
    )[F.col("event_type")]
    return e.where(h % denom == 0).select("event_id", "user_id", "event_type", "value")


def _sql_strata() -> str:
    case = " ".join(
        f"WHEN event_type = '{k}' THEN {v}" for k, v in _STRATA_FRACTIONS.items()
    )
    return f"""
SELECT event_id, user_id, event_type, value FROM events
WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
      % (CASE {case} END) = 0
"""


SQL_TS_STRATIFIED_SAMPLE = _sql_strata()


def ts_ensemble_combine(spark, sf_dir):
    """Ensemble combine — weighted average of two probability models
    (/root/reference/src/combine_data.cpp:6-40 C_combine_processing,
    R/sits_combine_predictions.R): model A = count-based probs, model B =
    value-share probs; combined = 0.6 A + 0.4 B; plus argmax label."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_DEC)).alias("sv"),
    )
    w = Window.partitionBy("user_id")
    pa_ = F.col("n").cast("double") / F.sum("n").over(w)
    pb = F.col("sv").cast("double") / F.sum("sv").over(w).cast("double")
    comb = g.select(
        "user_id", "event_type", (pa_ * 0.6 + pb * 0.4).alias("p_comb")
    )
    rk = Window.partitionBy("user_id").orderBy(F.desc("p_comb"), F.asc("event_type"))
    return comb.select(
        "user_id",
        "event_type",
        _r6(F.col("p_comb")).alias("p_comb"),
        (F.row_number().over(rk) == 1).alias("is_argmax"),
    )


SQL_TS_ENSEMBLE_COMBINE = f"""
WITH g AS (
  SELECT user_id, event_type, count(*) AS n, sum(CAST(value AS {_DEC})) AS sv
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT user_id, event_type,
         (CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY user_id)) * 0.6
         + (CAST(sv AS DOUBLE) / CAST(sum(sv) OVER (PARTITION BY user_id) AS DOUBLE)) * 0.4 AS p_comb
  FROM g
)
SELECT user_id, event_type, CAST(round(p_comb, 6) AS DOUBLE) AS p_comb,
       row_number() OVER (PARTITION BY user_id ORDER BY p_comb DESC, event_type ASC) = 1 AS is_argmax
FROM c
"""

# bayts change detection: two gaussian hypotheses over the value band
# (stable vs changed regime) and the threshold on the cumulative log-odds
_BAYTS = dict(
    mu_stable=80.0, sd_stable=40.0, mu_changed=160.0, sd_changed=60.0,
    bwf=(0.1, 0.9), tau=2.0,
)


def ts_bayts_change(spark, sf_dir):
    """bayts sequential change detection: each user's first flagged ts
    and largest fixed-point cumulative log-odds. A call of the verb
    ``api.detect_change`` (quantised chain, NULL values skipped, far
    outliers guarded), ordered by (ts, event_id)."""
    from . import api

    e = _spread(_t(spark, sf_dir, "events"), "user_id")
    return api.detect_change(
        e, ["user_id"], ["ts", "event_id"], "value", **_BAYTS
    ).select("user_id", F.col("first_ts").alias("change_ts"), "max_cum_llr_fp")


def _sql_phi(mu: float, sd: float) -> str:
    return f"exp(-pow(value - {mu}, 2) / (2.0 * {sd} * {sd})) / ({sd} * sqrt(2.0 * 3.141592653589793))"


SQL_TS_BAYTS_CHANGE = f"""
WITH llr AS (
  SELECT user_id, ts, event_id,
    CAST(round(ln(p / (1.0 - p)) * 10000) AS BIGINT) AS llr_fp
  FROM (
    SELECT user_id, ts, event_id,
      round(greatest(least(pc / (pc + ps), {_BAYTS['bwf'][1]}), {_BAYTS['bwf'][0]}), 6) AS p
    FROM (
      SELECT user_id, ts, event_id,
        {_sql_phi(_BAYTS['mu_changed'], _BAYTS['sd_changed'])} AS pc,
        {_sql_phi(_BAYTS['mu_stable'], _BAYTS['sd_stable'])} AS ps
      FROM events WHERE value IS NOT NULL
    )
  )
),
cum AS (
  SELECT user_id, ts,
    sum(llr_fp) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_llr_fp
  FROM llr
)
SELECT user_id, min(ts) AS change_ts, CAST(max(cum_llr_fp) AS BIGINT) AS max_cum_llr_fp
FROM cum WHERE cum_llr_fp >= {round(_BAYTS['tau'] * 10_000)}
GROUP BY user_id
"""


REGISTRY.update(
    {
        "emb_ann_lsh_topk": (emb_ann_lsh_topk, SQL_EMB_ANN_LSH_TOPK),
        "ts_mse_spectral": (ts_mse_spectral, SQL_TS_MSE_SPECTRAL),
        "ts_rolling_focal": (ts_rolling_focal, SQL_TS_ROLLING_FOCAL),
        "ts_softmax_probs": (ts_softmax_probs, SQL_TS_SOFTMAX_PROBS),
        "ts_uncertainty_margin": (ts_uncertainty_margin, SQL_TS_UNCERTAINTY_MARGIN),
        "ts_stratified_sample": (ts_stratified_sample, SQL_TS_STRATIFIED_SAMPLE),
        "ts_ensemble_combine": (ts_ensemble_combine, SQL_TS_ENSEMBLE_COMBINE),
        "ts_bayts_change": (ts_bayts_change, SQL_TS_BAYTS_CHANGE),
    }
)


# ---------------------------------------------------------------------------
# F. round-2 additions II: simhash, cosine near-dup, token counting
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64
_SIMHASH_BANDS = 4  # 4 x 16-bit bands; candidates share >= 1 exact band


def doc_simhash(spark, sf_dir):
    """SimHash near-dup candidates (Charikar's scheme): 64-bit signature
    by per-bit voting of 3-gram SHINGLE hashes, then banded candidate
    pairs — two docs are candidates when any 16-bit quarter of their
    signatures is equal (standard hamming-<=k prefilter; exact-equality
    join per band, no all-pairs). Shingle hash = md5 hex -> two 32-bit
    halves. Shingles, not words: this corpus's 31-word vocabulary makes
    word-set signatures near-identical across docs (the word variant
    admitted 16% of all pairs at sf0.1)."""
    d = _t(spark, sf_dir, "documents")
    h = _shingles(d).select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring(F.md5("s"), 9, 8), 16, 10).cast("long").alias("h_lo"),
    )
    # per-bit votes: bit b of the 64-bit sig = majority over words of
    # bit b of (h_hi:h_lo). Sum (2*bit - 1) per bit, sign -> bit.
    votes = [
        F.sum(
            (F.shiftright(F.col("h_hi" if b >= 32 else "h_lo"), b % 32) % 2) * 2 - 1
        ).alias(f"v{b}")
        for b in range(_SIMHASH_BITS)
    ]
    sig = h.groupBy("doc_id").agg(*votes)
    band_cols = []
    for band in range(_SIMHASH_BANDS):
        bits = [
            F.when(F.col(f"v{band * 16 + i}") > 0, F.lit(1 << i)).otherwise(0)
            for i in range(16)
        ]
        expr = bits[0]
        for t in bits[1:]:
            expr = expr + t
        band_cols.append(expr.cast("long").alias(f"b{band}"))
    sigs = sig.select("doc_id", *band_cols)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band_id"), F.col(f"b{i}").alias("key"))
                    for i in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "bd.band_id", "bd.key")
    # round 6: one groupBy (band_id, key) + in-bucket pair generation
    # replaces the band self-join (which re-derived the whole
    # shingle->md5->vote subtree for its second side) — same distinct
    # pair set, one scan
    buckets = bands.groupBy("band_id", "key").agg(
        F.collect_list("doc_id").alias("ids")
    )
    pairs = buckets.where(F.size("ids") > 1).select(
        F.explode(
            F.expr(
                "flatten(transform(ids,"
                "  x -> transform(filter(ids, y -> x < y),"
                "    y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _sql_simhash() -> str:
    votes = ",\n    ".join(
        f"sum(((h_{'hi' if b >= 32 else 'lo'} >> {b % 32}) % 2) * 2 - 1) AS v{b}"
        for b in range(_SIMHASH_BITS)
    )
    band_exprs = []
    for band in range(_SIMHASH_BANDS):
        terms = " + ".join(
            f"(CASE WHEN v{band * 16 + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(16)
        )
        band_exprs.append(f"CAST({terms} AS BIGINT) AS b{band}")
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_id, b{i} AS key FROM sigs"
        for i in range(_SIMHASH_BANDS)
    )
    return f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM toks,
    UNNEST(list_transform(generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS t(s)
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 8))::BIGINT AS h_hi,
         ('0x' || substr(md5(s), 9, 8))::BIGINT AS h_lo
  FROM sh
),
v AS (SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id),
sigs AS (SELECT doc_id, {", ".join(band_exprs)} FROM v),
bands AS ({bands_union})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id
"""


SQL_DOC_SIMHASH = _sql_simhash()


def emb_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: candidate pairs colliding in >= 1 of
    the _ANN_BANDS sign-LSH bands (equi-join on (band_id, key), deduped
    across bands, no all-pairs), kept when cosine >= 0.4 — the scale path
    for semantic dedup. High-cosine pairs are exactly where per-band
    collision probability (cos-angle)^bits is high, so banding loses
    almost nothing here while bounding candidates."""
    bands = emb_lsh_bands(spark, sf_dir)
    a = bands.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "band_id", "key"
    )
    c = bands.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "band_id", "key"
    )
    sim = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))
    )
    # score in the join, dedup across bands on the scalar (identical per
    # duplicate pair) — the shuffle never carries embedding vectors
    return (
        a.join(c, ["band_id", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _r6(sim).alias("cosine"))
        .groupBy("id_a", "id_b")
        .agg(F.min("cosine").alias("cosine"))
        .where(F.col("cosine") >= 0.4)
    )


SQL_EMB_COSINE_NEARDUP = f"""
WITH bands AS ({_sql_bands()}),
a AS (SELECT vec_id AS id_a, embedding::DOUBLE[] AS va, band_id, key FROM bands),
b AS (SELECT vec_id AS id_b, embedding::DOUBLE[] AS vb, band_id, key FROM bands)
SELECT id_a, id_b, min(cosine) AS cosine FROM (
  SELECT id_a, id_b,
         CAST(round(list_dot_product(va, vb) /
              (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 6) AS DOUBLE) AS cosine
  FROM a JOIN b USING (band_id, key) WHERE id_a < id_b
) GROUP BY 1, 2 HAVING min(cosine) >= 0.4
"""


def doc_token_count(spark, sf_dir):
    """Token counting two ways (training-data pipeline op): whitespace
    tokens and a BPE-ish lexer count (runs of word chars | single
    non-space punctuation — the GPT-2 pre-tokenizer's coarse shape)."""
    d = _t(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), r"\s+"))
    bpeish = F.size(F.expr(r"regexp_extract_all(text, '[\\w]+|[^\\w\\s]', 0)"))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpeish.alias("bpeish_tokens"),
        (F.length("text") - bpeish).alias("ws_chars_saved"),
    )


SQL_DOC_TOKEN_COUNT = r"""
SELECT doc_id,
       len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[\w]+|[^\w\s]', 0)) AS bpeish_tokens,
       length(text) - len(regexp_extract_all(text, '[\w]+|[^\w\s]', 0)) AS ws_chars_saved
FROM documents
"""


REGISTRY.update(
    {
        "doc_simhash": (doc_simhash, SQL_DOC_SIMHASH),
        "emb_cosine_neardup": (emb_cosine_neardup, SQL_EMB_COSINE_NEARDUP),
        "doc_token_count": (doc_token_count, SQL_DOC_TOKEN_COUNT),
    }
)


_BAYES_SMOOTHNESS = 400.0


def ts_bayes_smooth(spark, sf_dir):
    """Bayesian smoother (/root/reference/src/smooth_bayes.cpp:20-78 with
    neigh_fraction = 1.0; api.smooth): neighborhood = the +-2 window along
    each user's series; prior m0/s0 = mean/sample-variance of the window;
    posterior = w*x + (1-w)*m0 with w = s0/(s0 + smoothness); degenerate
    windows (s0 < 1e-4) collapse to m0."""
    from . import api

    sm = api.smooth(
        _t(spark, sf_dir, "events"), "user_id", ["ts", "event_id"], "value", "bayes",
        out="v_bayes", window=2, smoothness=_BAYES_SMOOTHNESS,
    )
    return sm.select("event_id", "user_id", _r6("v_bayes").alias("v_bayes"))


SQL_TS_BAYES_SMOOTH = f"""
SELECT event_id, user_id,
  CAST(round(CASE WHEN s0 < 1e-4 THEN m0
             ELSE (s0 / (s0 + {_BAYES_SMOOTHNESS})) * value
                  + (1.0 - s0 / (s0 + {_BAYES_SMOOTHNESS})) * m0 END, 6) AS DOUBLE) AS v_bayes
FROM (
  SELECT event_id, user_id, value,
         avg(value) OVER w AS m0,
         var_samp(value) OVER w AS s0
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
"""


def ts_merge_densify(spark, sf_dir):
    """Cube merge, densify + compactify strategies
    (/root/reference/R/api_merge.R:144-230): two bands (click/view daily
    means, api.reduce) on a UNION timeline (api.merge densify: full outer
    join, gaps NULL); ``in_both`` marks the compactified (zipper-overlap)
    subset."""
    from . import api

    e = api.apply(_t(spark, sf_dir, "events"), day=F.date_trunc("day", "ts"))

    def band(t):
        sel = api.select(e, where=F.col("event_type") == t)
        return api.reduce(sel, ["user_id", "day"], "value", ["mean"])

    j = api.merge(band("click"), band("view"), "densify", keys=("user_id", "day"))
    click, view = _r6("mean_a"), _r6("mean_b")
    both = click.isNotNull() & view.isNotNull()
    return j.select(
        "user_id", "day", click.alias("click_mean"), view.alias("view_mean"), both.alias("in_both")
    )


SQL_TS_MERGE_DENSIFY = f"""
WITH a AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(round(CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(*), 6) AS DOUBLE) AS click_mean
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
b AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(round(CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(*), 6) AS DOUBLE) AS view_mean
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       coalesce(a.day, b.day) AS day,
       a.click_mean, b.view_mean,
       a.click_mean IS NOT NULL AND b.view_mean IS NOT NULL AS in_both
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id AND a.day = b.day
"""


REGISTRY.update(
    {
        "ts_bayes_smooth": (ts_bayes_smooth, SQL_TS_BAYES_SMOOTH),
        "ts_merge_densify": (ts_merge_densify, SQL_TS_MERGE_DENSIFY),
    }
)


# ---------------------------------------------------------------------------
# F-1. temporal GLCM textures (round-3): the reference's co-occurrence
#      texture family (src/glcm_fns.cpp, R/sits_texture.R) re-expressed
#      along the series axis — quantize to 8 levels, lag-1 co-occurrence
#      matrix per key, then contrast/energy/homogeneity/entropy.
# ---------------------------------------------------------------------------

_GLCM_LEVELS = 8


def ts_glcm_texture(spark, sf_dir):
    """Temporal GLCM: per user, values min-max quantized to 8 levels,
    the lag-1 co-occurrence histogram normalized to probabilities, and
    the four classic Haralick measures. The raster reference computes
    these over a spatial window (src/glcm_fns.cpp); the series analog
    uses temporal adjacency in (ts, event_id) order — one window pass +
    two aggregations, no UDF."""
    e = _t(spark, sf_dir, "events")
    # per-user extent as an unbounded window over the SAME user_id
    # partitioning the lag pass needs — one shuffle, no join, and no
    # data-sized broadcast (ext is one row per user: unbounded at scale)
    wu = Window.partitionBy("user_id")
    j = e.withColumn("vmin", F.min("value").over(wu)).withColumn(
        "vmax", F.max("value").over(wu)
    )
    span = F.col("vmax") - F.col("vmin")
    q = F.when(
        span > 0,
        F.least(
            F.lit(_GLCM_LEVELS - 1),
            F.floor((F.col("value") - F.col("vmin")) / (span / _GLCM_LEVELS)),
        ),
    ).otherwise(F.lit(0)).cast("int")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        j.select("user_id", "ts", "event_id", q.alias("qa"))
        .withColumn("qb", F.lag("qa", -1).over(w))
        .where(F.col("qb").isNotNull())
    )
    cm = pairs.groupBy("user_id", "qa", "qb").agg(F.count(F.lit(1)).alias("n"))
    tot = cm.groupBy("user_id").agg(F.sum("n").alias("nn"))
    p = F.col("n").cast("double") / F.col("nn")
    d = F.abs(F.col("qa") - F.col("qb"))
    return (
        cm.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            _r6(F.sum(p * d * d)).alias("glcm_contrast"),
            _r6(F.sum(p * p)).alias("glcm_energy"),
            _r6(F.sum(p / (F.lit(1.0) + d))).alias("glcm_homogeneity"),
            _r6(-F.sum(p * F.log(p))).alias("glcm_entropy"),
        )
    )


SQL_TS_GLCM_TEXTURE = f"""
WITH ext AS (SELECT user_id, min(value) AS vmin, max(value) AS vmax FROM events GROUP BY 1),
qv AS (
  SELECT e.user_id, e.ts, e.event_id,
         CAST(CASE WHEN vmax > vmin THEN
           least({_GLCM_LEVELS - 1}, floor((value - vmin) / ((vmax - vmin) / {_GLCM_LEVELS})))
         ELSE 0 END AS INT) AS qa
  FROM events e JOIN ext ON e.user_id = ext.user_id
),
pairs AS (
  SELECT user_id, qa,
         lead(qa) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS qb
  FROM qv
),
cm AS (SELECT user_id, qa, qb, count(*) AS n FROM pairs WHERE qb IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT user_id, sum(n) AS nn FROM cm GROUP BY 1)
SELECT cm.user_id,
  CAST(round(sum((CAST(n AS DOUBLE) / nn) * abs(qa - qb) * abs(qa - qb)), 6) AS DOUBLE) AS glcm_contrast,
  CAST(round(sum((CAST(n AS DOUBLE) / nn) * (CAST(n AS DOUBLE) / nn)), 6) AS DOUBLE) AS glcm_energy,
  CAST(round(sum((CAST(n AS DOUBLE) / nn) / (1.0 + abs(qa - qb))), 6) AS DOUBLE) AS glcm_homogeneity,
  CAST(round(-sum((CAST(n AS DOUBLE) / nn) * ln(CAST(n AS DOUBLE) / nn)), 6) AS DOUBLE) AS glcm_entropy
FROM cm JOIN tot ON cm.user_id = tot.user_id
GROUP BY cm.user_id
"""

REGISTRY.update({"ts_glcm_texture": (ts_glcm_texture, SQL_TS_GLCM_TEXTURE)})


# ---------------------------------------------------------------------------
# F-0.5. lag autocorrelation (round-3): the serial-dependence feature a
#        phenology/seasonality detector starts from (the reference gets
#        it implicitly through its filters; here it is first-class).
# ---------------------------------------------------------------------------


def ts_autocorr_lags(spark, sf_dir):
    """Lag-1..3 autocorrelation per key in (ts, event_id) order. Every
    co-moment (sum x, sum y, sum xy, sum x^2, sum y^2, n) is accumulated
    as an EXACT decimal (values have a 2-dp domain, products 4-dp), so
    the correlation computed from them in double is bit-deterministic in
    any aggregation order — no two-pass mean join needed."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select("user_id", F.col("value").alias("x"), "ts", "event_id")
    for k in (1, 2, 3):
        d = d.withColumn(f"y{k}", F.lead("x", k).over(w))
    xd = F.col("x").cast(_DEC)

    def corr_k(k: int):
        y = F.col(f"y{k}")
        yd = y.cast(_DEC)
        n = F.count(y).cast("double")
        sx = F.sum(F.when(y.isNotNull(), xd)).cast("double")
        sy = F.sum(yd).cast("double")
        sxy = F.sum((xd * yd).cast("decimal(38,8)")).cast("double")
        sxx = F.sum(F.when(y.isNotNull(), (xd * xd).cast("decimal(38,8)"))).cast("double")
        syy = F.sum((yd * yd).cast("decimal(38,8)")).cast("double")
        num = n * sxy - sx * sy
        den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        return _r6(F.try_divide(num, den)).alias(f"acf_{k}")

    return d.groupBy("user_id").agg(*[corr_k(k) for k in (1, 2, 3)])


def _sql_autocorr() -> str:
    leads = ", ".join(
        f"lead(value, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y{k}"
        for k in (1, 2, 3)
    )
    cols = []
    for k in (1, 2, 3):
        cols.append(
            f"""CAST(round(
  (count(y{k}) * CAST(sum(CAST(CAST(value AS {_DEC}) * CAST(y{k} AS {_DEC}) AS DECIMAL(38,8))) AS DOUBLE)
     - CAST(sum(CASE WHEN y{k} IS NOT NULL THEN CAST(value AS {_DEC}) END) AS DOUBLE)
       * CAST(sum(CAST(y{k} AS {_DEC})) AS DOUBLE))
  / NULLIF(sqrt(count(y{k}) * CAST(sum(CASE WHEN y{k} IS NOT NULL THEN CAST(CAST(value AS {_DEC}) * CAST(value AS {_DEC}) AS DECIMAL(38,8)) END) AS DOUBLE)
         - CAST(sum(CASE WHEN y{k} IS NOT NULL THEN CAST(value AS {_DEC}) END) AS DOUBLE)
           * CAST(sum(CASE WHEN y{k} IS NOT NULL THEN CAST(value AS {_DEC}) END) AS DOUBLE))
    * sqrt(count(y{k}) * CAST(sum(CAST(CAST(y{k} AS {_DEC}) * CAST(y{k} AS {_DEC}) AS DECIMAL(38,8))) AS DOUBLE)
         - CAST(sum(CAST(y{k} AS {_DEC})) AS DOUBLE) * CAST(sum(CAST(y{k} AS {_DEC})) AS DOUBLE)), 0)
, 6) AS DOUBLE) AS acf_{k}"""
        )
    return f"""
WITH d AS (SELECT user_id, value, {leads} FROM events)
SELECT user_id, {", ".join(cols)}
FROM d GROUP BY user_id
"""


SQL_TS_AUTOCORR_LAGS = _sql_autocorr()

REGISTRY.update({"ts_autocorr_lags": (ts_autocorr_lags, SQL_TS_AUTOCORR_LAGS)})


# ---------------------------------------------------------------------------
# F0. rolling-hash document fingerprint (round-3; brief's "document
#     fingerprinting (rolling hash)" literally)
# ---------------------------------------------------------------------------

_RH_BASE = 131
_RH_MOD = 1_000_000_007


def doc_rolling_fingerprint(spark, sf_dir):
    """Polynomial rolling-hash fingerprint (Rabin-Karp family): the whole
    document folded left-to-right as h = (h*B + codepoint) mod M, plus
    the same hash over the FIRST 64 characters (a prefix chunk id — the
    content-defined-chunking building block). Pure Catalyst higher-order
    aggregate, no UDF; acc < M and acc*B + c < 1.4e11 << int64, so the
    fold is exact integer arithmetic in both engines."""
    d = _t(spark, sf_dir, "documents")

    def rolling(n_expr: str) -> str:
        # sequence(1, 0) would be DESCENDING (ANSI index error) -> guard
        return (
            f"CASE WHEN length(text) > 0 THEN "
            f"aggregate(sequence(1, {n_expr}), 0L, (acc, i) -> "
            f"(acc * {_RH_BASE} + ascii(substring(text, i, 1))) % {_RH_MOD}) "
            f"ELSE 0L END"
        )

    return d.select(
        "doc_id",
        F.expr(rolling("length(text)")).alias("rh_full"),
        F.expr(rolling("least(length(text), 64)")).alias("rh_prefix64"),
        F.length("text").alias("n_chars_exact"),
    )


SQL_DOC_ROLLING_FINGERPRINT = f"""
SELECT doc_id,
  CASE WHEN length(text) > 0 THEN
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(1, length(text)),
                     i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
      (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD})
  ELSE 0 END AS rh_full,
  CASE WHEN length(text) > 0 THEN
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(1, least(length(text), 64)),
                     i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
      (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD})
  ELSE 0 END AS rh_prefix64,
  length(text) AS n_chars_exact
FROM documents
"""

REGISTRY.update(
    {"doc_rolling_fingerprint": (doc_rolling_fingerprint, SQL_DOC_ROLLING_FINGERPRINT)}
)


# ---------------------------------------------------------------------------
# F0b. int8 embedding quantization (round-3; the storage-compression op a
#      training-data pipeline runs before writing embedding shards)
# ---------------------------------------------------------------------------


def emb_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = round(v_i / scale) in [-127, 127]; emits the scale and the
    dequantization error stats (max abs, rmse) — the accept/reject
    signal for lossy embedding storage. Pure Catalyst array lambdas;
    rounding is half-away-from-zero in BOTH engines, so q and the error
    stats replay exactly."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    # greatest(., 1e-30) guards the all-zero vector: scale 0 would make
    # x / scale NaN/Inf, where Spark and DuckDB float-division semantics
    # (and hence the oracle hash) can differ; with the clamp a zero
    # vector quantizes to all-zero with zero error in both engines
    mx = F.expr(
        "greatest(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30)"
    )
    scale = (mx / F.lit(127.0)).alias("scale")
    _s = (
        "(greatest(array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30)"
        " / 127.0)"
    )
    err = (
        "transform(embedding, x -> abs(CAST(x AS DOUBLE) - "
        f"round(CAST(x AS DOUBLE) / {_s}, 0) "
        f"* {_s}))"
    )
    return e.select(
        "vec_id",
        _r6(scale).alias("scale"),
        _r6(F.expr(f"array_max({err})")).alias("max_abs_err"),
        _r6(
            F.sqrt(
                F.expr(f"aggregate({err}, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)")
                / F.size(v)
            )
        ).alias("rmse"),
    )


SQL_EMB_QUANTIZE_INT8 = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-30) / 127.0 AS s
  FROM embeddings
),
err AS (
  SELECT vec_id, s,
         list_transform(v, x -> abs(x - round(x / s) * s)) AS ae,
         len(v) AS n
  FROM e
)
SELECT vec_id,
       CAST(round(s, 6) AS DOUBLE) AS scale,
       CAST(round(list_max(ae), 6) AS DOUBLE) AS max_abs_err,
       CAST(round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ae),
            (a, x) -> a + x * x) / n), 6) AS DOUBLE) AS rmse
FROM err
"""

REGISTRY.update({"emb_quantize_int8": (emb_quantize_int8, SQL_EMB_QUANTIZE_INT8)})


# ---------------------------------------------------------------------------
# F1. mixture model / NNLS unmixing (round-3)
# ---------------------------------------------------------------------------

_EM_A = [(1.0 if i % 3 == 0 else 0.25) for i in range(64)]
_EM_B = [(1.0 if i % 3 != 0 else 0.25) for i in range(64)]


def emb_mixture_nnls(spark, sf_dir):
    """Mixture model / NNLS unmixing (reference sits_mixture_model,
    R/api_mixture_model.R + /root/reference/src/nnls_solver.cpp): each
    vector decomposed into non-negative fractions of a fixed endmember
    set, plus the residual RMSE band.

    The reference iterates a gradient-projection solver for arbitrary k;
    with k = 2 endmembers the KKT active-set solution is CLOSED FORM
    (solve the 2x2 normal equations; if a coordinate goes negative, clamp
    it to 0 and re-solve the remaining 1-D problem) — so the whole
    operator stays in Catalyst expressions (no UDF) and the DuckDB oracle
    replays the identical algebra. Gram-matrix scalars are Python-time
    constants shared as literals by both engines. For k > 2 the batched
    numpy kernel path (mapInArrow, like the smoothers) is the documented
    extension point."""
    e = _t(spark, sf_dir, "embeddings")
    a11 = sum(x * x for x in _EM_A)
    a12 = sum(x * y for x, y in zip(_EM_A, _EM_B))
    a22 = sum(y * y for y in _EM_B)
    det = a11 * a22 - a12 * a12
    ea = F.array(*[F.lit(v) for v in _EM_A])
    eb = F.array(*[F.lit(v) for v in _EM_B])
    v = F.col("embedding")
    b1 = _dot(v, ea)
    b2 = _dot(v, eb)
    # unconstrained normal-equation solution
    x1u = (F.lit(a22) * b1 - F.lit(a12) * b2) / F.lit(det)
    x2u = (F.lit(a11) * b2 - F.lit(a12) * b1) / F.lit(det)
    # KKT clamping for k=2: at most one coordinate can be active at 0
    x1 = (
        F.when((x1u >= 0) & (x2u >= 0), x1u)
        .when(x1u < 0, F.lit(0.0))
        .otherwise(F.greatest(b1 / F.lit(a11), F.lit(0.0)))
    )
    x2 = (
        F.when((x1u >= 0) & (x2u >= 0), x2u)
        .when(x2u < 0, F.lit(0.0))
        .otherwise(F.greatest(b2 / F.lit(a22), F.lit(0.0)))
    )
    # residual^2 = |v|^2 - 2(x.b) + x.A x, expanded in the same order on
    # both engines; rounded before the sqrt so the hash is stable
    vv = _dot(v, v)
    r2 = (
        vv
        - 2.0 * (x1 * b1 + x2 * b2)
        + (x1 * x1 * F.lit(a11) + 2.0 * x1 * x2 * F.lit(a12) + x2 * x2 * F.lit(a22))
    )
    rmse = F.sqrt(F.greatest(_r6(r2), F.lit(0.0)) / F.lit(64.0))
    return e.select(
        "vec_id",
        _r6(x1).alias("frac_a"),
        _r6(x2).alias("frac_b"),
        _r6(rmse).alias("rmse"),
    )


def _sql_mixture() -> str:
    a11 = sum(x * x for x in _EM_A)
    a12 = sum(x * y for x, y in zip(_EM_A, _EM_B))
    a22 = sum(y * y for y in _EM_B)
    det = a11 * a22 - a12 * a12
    arr_a = ", ".join(str(v) for v in _EM_A)
    arr_b = ", ".join(str(v) for v in _EM_B)
    return f"""
WITH d AS (
  SELECT vec_id,
         list_dot_product(embedding::DOUBLE[], [{arr_a}]) AS b1,
         list_dot_product(embedding::DOUBLE[], [{arr_b}]) AS b2,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
  FROM embeddings
),
u AS (
  SELECT vec_id, b1, b2, vv,
         ({a22!r} * b1 - {a12!r} * b2) / {det!r} AS x1u,
         ({a11!r} * b2 - {a12!r} * b1) / {det!r} AS x2u
  FROM d
),
s AS (
  SELECT vec_id, b1, b2, vv,
         CASE WHEN x1u >= 0 AND x2u >= 0 THEN x1u
              WHEN x1u < 0 THEN 0.0
              ELSE greatest(b1 / {a11!r}, 0.0) END AS x1,
         CASE WHEN x1u >= 0 AND x2u >= 0 THEN x2u
              WHEN x2u < 0 THEN 0.0
              ELSE greatest(b2 / {a22!r}, 0.0) END AS x2
  FROM u
)
SELECT vec_id,
       CAST(round(x1, 6) AS DOUBLE) AS frac_a,
       CAST(round(x2, 6) AS DOUBLE) AS frac_b,
       CAST(round(sqrt(greatest(CAST(round(
            vv - 2.0 * (x1 * b1 + x2 * b2)
               + (x1 * x1 * {a11!r} + 2.0 * x1 * x2 * {a12!r} + x2 * x2 * {a22!r}), 6) AS DOUBLE), 0.0) / 64.0), 6) AS DOUBLE) AS rmse
FROM s
"""


SQL_EMB_MIXTURE_NNLS = _sql_mixture()

REGISTRY.update({"emb_mixture_nnls": (emb_mixture_nnls, SQL_EMB_MIXTURE_NNLS)})


# --- k = 3 endmembers: exact NNLS by KKT subset enumeration ---------------

_EM_C = [(1.0 if i % 4 == 0 else -0.5) for i in range(64)]


def _nnls3_gram() -> dict[str, float]:
    ems = {"1": _EM_A, "2": _EM_B, "3": _EM_C}
    g = {}
    for i in "123":
        for j in "123":
            if i <= j:
                g[f"a{i}{j}"] = float(
                    sum(x * y for x, y in zip(ems[i], ems[j]))
                )
    return g


def _nnls3_stage_fragments() -> tuple[list[str], list[str], list[str]]:
    """Shared SQL expression text for the k=3 NNLS KKT enumeration.

    The reference solves arbitrary-k NNLS with an iterative active-set
    solver (/root/reference/src/nnls_solver.cpp:10-124). For k = 3 the
    optimum can be found EXACTLY by enumerating the 2^3 passive subsets:
    solve each subset's unconstrained normal equations (closed form via
    precomputed inverse cofactors), keep the first subset that is primal
    feasible (x >= 0) AND dual feasible (clamped gradients <= 0) — in
    exact arithmetic that is the unique NNLS optimum, no iteration. Both
    engines evaluate the SAME expression text (Spark via selectExpr,
    DuckDB verbatim), so every float op happens in the same order and
    the hashes match bit-for-bit.

    Returns (candidate_frags, selection_frags, output_frags).
    """
    g = _nnls3_gram()
    a11, a12, a13 = g["a11"], g["a12"], g["a13"]
    a22, a23, a33 = g["a22"], g["a23"], g["a33"]
    det3 = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    # inverse(A) * det3 cofactors (symmetric)
    c11, c12, c13 = a22 * a33 - a23 * a23, a13 * a23 - a12 * a33, a12 * a23 - a13 * a22
    c22, c23, c33 = a11 * a33 - a13 * a13, a12 * a13 - a11 * a23, a11 * a22 - a12 * a12
    d12 = a11 * a22 - a12 * a12
    d13 = a11 * a33 - a13 * a13
    d23 = a22 * a33 - a23 * a23
    cand = [
        # full passive set {1,2,3}
        f"({c11!r} * b1 + {c12!r} * b2 + {c13!r} * b3) / {det3!r} AS x1f",
        f"({c12!r} * b1 + {c22!r} * b2 + {c23!r} * b3) / {det3!r} AS x2f",
        f"({c13!r} * b1 + {c23!r} * b2 + {c33!r} * b3) / {det3!r} AS x3f",
        # pairs
        f"({a22!r} * b1 - {a12!r} * b2) / {d12!r} AS x1p12",
        f"({a11!r} * b2 - {a12!r} * b1) / {d12!r} AS x2p12",
        f"({a33!r} * b1 - {a13!r} * b3) / {d13!r} AS x1p13",
        f"({a11!r} * b3 - {a13!r} * b1) / {d13!r} AS x3p13",
        f"({a33!r} * b2 - {a23!r} * b3) / {d23!r} AS x2p23",
        f"({a22!r} * b3 - {a23!r} * b2) / {d23!r} AS x3p23",
        # singles
        f"b1 / {a11!r} AS x1s",
        f"b2 / {a22!r} AS x2s",
        f"b3 / {a33!r} AS x3s",
    ]
    ok = {
        "ok123": "x1f >= 0 AND x2f >= 0 AND x3f >= 0",
        "ok12": (
            "x1p12 >= 0 AND x2p12 >= 0 AND "
            f"(b3 - ({a13!r} * x1p12 + {a23!r} * x2p12)) <= 0"
        ),
        "ok13": (
            "x1p13 >= 0 AND x3p13 >= 0 AND "
            f"(b2 - ({a12!r} * x1p13 + {a23!r} * x3p13)) <= 0"
        ),
        "ok23": (
            "x2p23 >= 0 AND x3p23 >= 0 AND "
            f"(b1 - ({a12!r} * x2p23 + {a13!r} * x3p23)) <= 0"
        ),
        "ok1": (
            f"x1s >= 0 AND (b2 - {a12!r} * x1s) <= 0 AND (b3 - {a13!r} * x1s) <= 0"
        ),
        "ok2": (
            f"x2s >= 0 AND (b1 - {a12!r} * x2s) <= 0 AND (b3 - {a23!r} * x2s) <= 0"
        ),
        "ok3": (
            f"x3s >= 0 AND (b1 - {a13!r} * x3s) <= 0 AND (b2 - {a23!r} * x3s) <= 0"
        ),
    }

    def pick(vals: dict[str, str]) -> str:
        # subset order: full, pairs, singles, empty — first feasible wins
        arms = "".join(
            f"WHEN {ok[k]} THEN {vals.get(k, '0.0')} "
            for k in ("ok123", "ok12", "ok13", "ok23", "ok1", "ok2", "ok3")
        )
        return f"CASE {arms}ELSE 0.0 END"

    sel = [
        pick({"ok123": "x1f", "ok12": "x1p12", "ok13": "x1p13", "ok1": "x1s"})
        + " AS x1",
        pick({"ok123": "x2f", "ok12": "x2p12", "ok23": "x2p23", "ok2": "x2s"})
        + " AS x2",
        pick({"ok123": "x3f", "ok13": "x3p13", "ok23": "x3p23", "ok3": "x3s"})
        + " AS x3",
    ]
    r2 = (
        "vv - 2.0 * (x1 * b1 + x2 * b2 + x3 * b3) + "
        f"(x1 * x1 * {a11!r} + x2 * x2 * {a22!r} + x3 * x3 * {a33!r} + "
        f"2.0 * (x1 * x2 * {a12!r} + x1 * x3 * {a13!r} + x2 * x3 * {a23!r}))"
    )
    out = [
        "CAST(round(x1, 6) AS DOUBLE) AS frac_a",
        "CAST(round(x2, 6) AS DOUBLE) AS frac_b",
        "CAST(round(x3, 6) AS DOUBLE) AS frac_c",
        f"CAST(round(sqrt(greatest(CAST(round({r2}, 6) AS DOUBLE), 0.0) / 64.0), 6)"
        " AS DOUBLE) AS rmse",
    ]
    return cand, sel, out


def emb_mixture_nnls_k3(spark, sf_dir):
    """NNLS unmixing with k = 3 endmembers — the full non-trivial case of
    the reference's active-set solver
    (/root/reference/src/nnls_solver.cpp:10-124), solved EXACTLY by KKT
    subset enumeration (see _nnls3_stage_fragments). Everything past the
    three endmember dot products is shared expression text evaluated by
    both engines, so the oracle is hash-exact."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    ems = [_EM_A, _EM_B, _EM_C]
    dots = [
        _dot(v, F.array(*[F.lit(x) for x in em])).alias(f"b{i + 1}")
        for i, em in enumerate(ems)
    ]
    d = e.select("vec_id", *dots, _dot(v, v).alias("vv"))
    cand, sel, out = _nnls3_stage_fragments()
    u = d.selectExpr("vec_id", "b1", "b2", "b3", "vv", *cand)
    s = u.selectExpr("vec_id", "b1", "b2", "b3", "vv", *sel)
    return s.selectExpr("vec_id", *out)


def _sql_mixture_k3() -> str:
    cand, sel, out = _nnls3_stage_fragments()
    arrs = [", ".join(str(v) for v in em) for em in (_EM_A, _EM_B, _EM_C)]
    dot_cols = ",\n    ".join(
        f"list_dot_product(embedding::DOUBLE[], [{a}]) AS b{i + 1}"
        for i, a in enumerate(arrs)
    )
    return f"""
WITH d AS (
  SELECT vec_id,
    {dot_cols},
    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
  FROM embeddings
),
u AS (SELECT vec_id, b1, b2, b3, vv, {", ".join(cand)} FROM d),
s AS (SELECT vec_id, b1, b2, b3, vv, {", ".join(sel)} FROM u)
SELECT vec_id, {", ".join(out)} FROM s
"""


SQL_EMB_MIXTURE_NNLS_K3 = _sql_mixture_k3()

REGISTRY.update(
    {"emb_mixture_nnls_k3": (emb_mixture_nnls_k3, SQL_EMB_MIXTURE_NNLS_K3)}
)


def emb_smote_minority(spark, sf_dir):
    """SMOTE oversampling through the api.smote verb (reference
    sits_smote, /root/reference/R/api_smote.R): synthesize 2 rows per
    label-5 sample at the deterministic midpoint toward its 2 nearest
    in-class neighbors; emits per-synthetic scalars (first two dims +
    L2 norm) the DuckDB oracle replays exactly."""
    from . import api

    e = _t(spark, sf_dir, "embeddings")
    aug = api.smote(e, "label", "embedding", "vec_id", minority=5, n_per=2)
    f = F.col("embedding")
    return aug.where(F.col("synthetic")).select(
        F.col("vec_id").alias("synth_id"),
        _r6(F.element_at(f, 1)).alias("s0"),
        _r6(F.element_at(f, 2)).alias("s1"),
        _r6(F.sqrt(_dot(f, f))).alias("s_norm"),
    )


SQL_EMB_SMOTE_MINORITY = """
WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE label = 5),
p AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb, a.v AS va, b.v AS vb,
         list_dot_product(a.v, a.v) - 2.0 * list_dot_product(a.v, b.v)
           + list_dot_product(b.v, b.v) AS d2
  FROM m a JOIN m b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY ida ORDER BY d2 ASC, idb ASC) AS rnk
  FROM p
),
s AS (
  SELECT ida, rnk,
         list_transform(list_zip(va, vb), q -> q[1] + 0.5 * (q[2] - q[1])) AS sv
  FROM r WHERE rnk <= 2
)
SELECT concat(ida, '~', rnk) AS synth_id,
       CAST(round(sv[1], 6) AS DOUBLE) AS s0,
       CAST(round(sv[2], 6) AS DOUBLE) AS s1,
       CAST(round(sqrt(list_dot_product(sv, sv)), 6) AS DOUBLE) AS s_norm
FROM s
"""

REGISTRY.update({"emb_smote_minority": (emb_smote_minority, SQL_EMB_SMOTE_MINORITY)})


# ---------------------------------------------------------------------------
# G. SOM sample-quality map (reference sits_som_map / som_clean_samples,
#    /root/reference/R/api_som.R + src/kohonen_som.cpp:1-834)
# ---------------------------------------------------------------------------

_SOM_GRID = 4  # 4x4 neuron grid
_SOM_N = _SOM_GRID * _SOM_GRID
_SOM_WSCALE = 1000


def _som_planes() -> list[list[int]]:
    """Deterministic init codebook: 16 neurons of +-128 (in vq units,
    i.e. +-0.125 in embedding units), LCG-seeded like the ANN planes but
    offset so the families are distinct."""
    return [
        [int(128 * v) for v in _plane(100 + j)] for j in range(_SOM_N)
    ]


def _som_nb_pairs() -> list[tuple[int, int]]:
    """(neuron, bmu) pairs with Manhattan grid distance <= 1 — the
    radius-1 neighborhood of the batch update."""
    out = []
    for j in range(_SOM_N):
        jx, jy = divmod(j, _SOM_GRID)
        for b in range(_SOM_N):
            bx, by = divmod(b, _SOM_GRID)
            if abs(jx - bx) + abs(jy - by) <= 1:
                out.append((j, b))
    return out


def emb_som_quality(spark, sf_dir):
    """One batch-SOM epoch + sample-quality map, integer-exact.

    The reference trains a Kohonen SOM on the sample set and grades each
    sample by its neuron's label purity (sits_som_map +
    sits_som_clean_samples, /root/reference/R/api_som.R;
    src/kohonen_som.cpp batch updates). This oracle-checkable variant
    runs ONE batch epoch from a fixed literal codebook over integer-
    quantized embeddings, so every distance, codebook update and
    reassignment is exact integer arithmetic — identical in Spark and
    DuckDB regardless of summation order:

      vq = floor(v * 1024 + 0.5)                     (ANN quantization)
      bmu0 = argmin_j ||vq - W0_j||^2  (ties -> smaller j)
      W1_j = radius-1 neighborhood mean of member vq, re-quantized to
             floor(mean * 1000 + 0.5)  (neurons with no members drop out)
      bmu1 = argmin over W1 of sum_dims (1000*vq - W1_j)^2
      per neuron: members, majority label, purity, RMS quantization err

    The iterative multi-epoch verb is api.som_map (pytest vs numpy)."""
    e = _t(spark, sf_dir, "embeddings")
    vq = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))"
    )
    base = e.select("vec_id", "label", vq.alias("vq"))
    planes = _som_planes()
    w0qq = [sum(w * w for w in ws) for ws in planes]
    zero = F.lit(0).cast("long")
    d0 = F.array(
        *[
            (
                F.lit(w0qq[j]).cast("long")
                - 2
                * F.aggregate(
                    F.zip_with(
                        F.col("vq"),
                        F.array(*[F.lit(w) for w in planes[j]]),
                        lambda x, y: x * y,
                    ),
                    zero,
                    lambda a, x: a + x,
                )
            ).cast("long")
            for j in range(_SOM_N)
        ]
    )
    scored = base.select("vec_id", "label", "vq", F.posexplode(d0).alias("j", "d"))
    wv = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("j"))
    bmu0 = (
        scored.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "vq", F.col("j").alias("bmu"))
    )
    nb = spark.createDataFrame(_som_nb_pairs(), "neuron int, bmu int")
    members0 = bmu0.join(F.broadcast(nb), "bmu").select("vec_id", "vq", "neuron")
    vdims = bmu0.select(
        "vec_id", "label", F.posexplode("vq").alias("pos", "q")
    ).withColumn("dim", F.col("pos") + 1)
    mdims = members0.select(
        "vec_id", "neuron", F.posexplode("vq").alias("pos", "q")
    ).withColumn("dim", F.col("pos") + 1)
    w1 = mdims.groupBy("neuron", "dim").agg(
        F.floor(
            F.sum("q").cast("double") / F.count("q") * _SOM_WSCALE + 0.5
        ).cast("long").alias("wq")
    )
    # full re-assignment against the updated codebook: exact int sums
    d2 = (
        vdims.join(w1, "dim")
        .groupBy("vec_id", "label", "neuron")
        .agg(
            F.sum(
                (F.lit(_SOM_WSCALE) * F.col("q") - F.col("wq"))
                * (F.lit(_SOM_WSCALE) * F.col("q") - F.col("wq"))
            ).alias("d2")
        )
    )
    wv2 = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("neuron"))
    assigned = (
        d2.withColumn("rn", F.row_number().over(wv2))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "neuron", "d2")
    )
    counts = assigned.groupBy("neuron", "label").agg(F.count(F.lit(1)).alias("nl"))
    wmaj = Window.partitionBy("neuron").orderBy(F.desc("nl"), F.asc("label"))
    maj = (
        counts.withColumn("rn", F.row_number().over(wmaj))
        .where(F.col("rn") == 1)
        .select("neuron", F.col("label").alias("majority_label"), F.col("nl").alias("n_maj"))
    )
    per = assigned.groupBy("neuron").agg(
        F.count(F.lit(1)).alias("n_members"), F.sum("d2").alias("sd2")
    )
    return (
        per.join(maj, "neuron")
        .select(
            "neuron",
            "n_members",
            "majority_label",
            _r6(F.col("n_maj").cast("double") / F.col("n_members")).alias("purity"),
            _r6(
                F.sqrt(F.col("sd2").cast("double") / F.col("n_members"))
                / F.lit(1024.0 * _SOM_WSCALE)
            ).alias("qerr_rms"),
        )
    )


def _sql_som() -> str:
    planes = _som_planes()
    w0qq = [sum(w * w for w in ws) for ws in planes]
    d0_parts = " UNION ALL ".join(
        f"SELECT vec_id, label, vq, {j} AS j, "
        f"{w0qq[j]} - 2 * CAST(list_dot_product(vq, [{', '.join(str(w) for w in planes[j])}]) AS BIGINT) AS d "
        "FROM bq"
        for j in range(_SOM_N)
    )
    nb_vals = ", ".join(f"({j}, {b})" for j, b in _som_nb_pairs())
    return f"""
WITH bq AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1024 + 0.5) AS BIGINT)) AS vq
  FROM embeddings
),
d0 AS ({d0_parts}),
bmu0 AS (
  SELECT vec_id, label, vq, j AS bmu FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, j ASC) AS rn FROM d0
  ) WHERE rn = 1
),
nb(neuron, bmu) AS (VALUES {nb_vals}),
members0 AS (SELECT vec_id, vq, neuron FROM bmu0 JOIN nb USING (bmu)),
vdims AS (
  SELECT vec_id, label, generate_subscripts(vq, 1) AS dim, unnest(vq) AS q FROM bmu0
),
mdims AS (
  SELECT neuron, generate_subscripts(vq, 1) AS dim, unnest(vq) AS q FROM members0
),
w1 AS (
  SELECT neuron, dim,
         CAST(floor(CAST(sum(q) AS DOUBLE) / count(q) * {_SOM_WSCALE} + 0.5) AS BIGINT) AS wq
  FROM mdims GROUP BY 1, 2
),
d2t AS (
  SELECT vec_id, label, neuron,
         sum(({_SOM_WSCALE} * q - wq) * ({_SOM_WSCALE} * q - wq)) AS d2
  FROM vdims JOIN w1 USING (dim) GROUP BY 1, 2, 3
),
assigned AS (
  SELECT vec_id, label, neuron, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, neuron ASC) AS rn FROM d2t
  ) WHERE rn = 1
),
counts AS (SELECT neuron, label, count(*) AS nl FROM assigned GROUP BY 1, 2),
maj AS (
  SELECT neuron, label AS majority_label, nl AS n_maj FROM (
    SELECT *, row_number() OVER (PARTITION BY neuron ORDER BY nl DESC, label ASC) AS rn FROM counts
  ) WHERE rn = 1
),
per AS (SELECT neuron, count(*) AS n_members, sum(d2) AS sd2 FROM assigned GROUP BY 1)
SELECT neuron, n_members, majority_label,
       CAST(round(CAST(n_maj AS DOUBLE) / n_members, 6) AS DOUBLE) AS purity,
       CAST(round(sqrt(CAST(sd2 AS DOUBLE) / n_members) / {1024.0 * _SOM_WSCALE}, 6) AS DOUBLE) AS qerr_rms
FROM per JOIN maj USING (neuron)
"""


SQL_EMB_SOM_QUALITY = _sql_som()

REGISTRY.update({"emb_som_quality": (emb_som_quality, SQL_EMB_SOM_QUALITY)})


# ---------------------------------------------------------------------------
# F2. DTW pattern-based change detection (round-3)
# ---------------------------------------------------------------------------

_DTW_W = 4  # tumbling window length (series points)
_DTW_THRESHOLD = 60.0
# exact-binary-fraction literals so both engines parse identical doubles
_DTW_PATTERNS = {"ramp_up": (10.5, 25.0, 40.25), "spike": (5.25, 60.5, 5.25)}


def ts_dtw_change(spark, sf_dir):
    """DTW pattern-based change detection — the reference's second
    detect-change mode (/root/reference/src/dtw.cpp:73-105 symmetric-2
    recurrence; windowed search R/api_dtw.R:11-27 .dtw_distance_windowed;
    R/sits_detect_change.R dispatch): each user's series is cut into
    tumbling windows; per window the DTW distance to every pattern in a
    tiny broadcast pattern set; a change fires when the best distance is
    under threshold.

    Spark shape: one window-sort shuffle to index the series, a hash agg
    assembling each window's value array, then ONE Arrow-batched pandas
    UDF running the vectorized DP across all windows of the batch
    (kernels.dtw_windows — per-cell numpy steps, no per-window Python).
    Patterns are literals in the closure: nothing is broadcast-joined,
    nothing is quadratic. Univariate p-norm = |a-b| (dtw.cpp:36-48 with
    one band), so the DP is +/2*/min only — the oracle replays it as
    layered closed-form SQL, making this a hash-checked DTW. Thin wrapper
    over the public verb (api.detect_change_dtw) so the oracle checks the
    exact code path users run; round_dp=6 makes ranking/thresholding
    operate on the rounded distances (hash-stable)."""
    from . import api

    e = _t(spark, sf_dir, "events")
    return api.detect_change_dtw(
        e,
        ["user_id"],
        ["ts", "event_id"],
        "value",
        _DTW_PATTERNS,
        window=_DTW_W,
        threshold=_DTW_THRESHOLD,
        round_dp=6,
    )


def _sql_dtw() -> str:
    wn, names = _DTW_W, sorted(_DTW_PATTERNS)
    vcols = [f"v{i}" for i in range(wn)]
    pivots = ",\n         ".join(
        f"max(CASE WHEN rn % {wn} = {i} THEN value END) AS v{i}"
        for i in range(wn)
    )
    # layer 0: all costs + first row/column of each pattern's DP table
    l0 = []
    for p, name in enumerate(names):
        q = _DTW_PATTERNS[name]
        m = len(q)
        for i in range(wn):
            for j in range(m):
                l0.append(f"abs({vcols[i]} - {q[j]!r}) AS c{i}{j}_{p}")
        l0.append(f"abs({vcols[0]} - {q[0]!r}) AS d00_{p}")
    layer1 = []
    for p, name in enumerate(names):
        m = len(_DTW_PATTERNS[name])
        for i in range(1, wn):
            layer1.append(f"d{i-1}0_{p} + c{i}0_{p} AS d{i}0_{p}")
        for j in range(1, m):
            layer1.append(f"d0{j-1}_{p} + c0{j}_{p} AS d0{j}_{p}")
    # anti-diagonal layers: cell (i,j) depends on (i-1,j-1), (i,j-1), (i-1,j)
    diag_layers: list[list[str]] = []
    for k in range(2, wn + max(len(v) for v in _DTW_PATTERNS.values()) - 1):
        cells = []
        for p, name in enumerate(names):
            m = len(_DTW_PATTERNS[name])
            for i in range(1, wn):
                j = k - i
                if 1 <= j < m:
                    cells.append(
                        f"least(d{i-1}{j-1}_{p} + 2*c{i}{j}_{p}, "
                        f"d{i}{j-1}_{p} + c{i}{j}_{p}, "
                        f"d{i-1}{j}_{p} + c{i}{j}_{p}) AS d{i}{j}_{p}"
                    )
        if cells:
            diag_layers.append(cells)
    layers_sql = f"l1 AS (SELECT *, {', '.join(layer1)} FROM l0)"
    prev = "l1"
    for li, cells in enumerate(diag_layers):
        nm = f"l{li + 2}"
        layers_sql += f",\n{nm} AS (SELECT *, {', '.join(cells)} FROM {prev})"
        prev = nm
    finals = [
        f"CAST(round(d{wn-1}{len(_DTW_PATTERNS[n])-1}_{p}, 6) AS DOUBLE) AS d_{n}"
        for p, n in enumerate(names)
    ]
    dd = [f"d_{n}" for n in names]
    best_d = f"least({', '.join(dd)})"
    best = "NULL"
    for n in reversed(names):
        best = f"CASE WHEN d_{n} = {best_d} THEN '{n}' ELSE {best} END"
    return f"""
WITH seq AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
  FROM events WHERE value IS NOT NULL
),
win AS (
  SELECT user_id, rn // {wn} AS win_id,
         {pivots},
         count(*) AS n
  FROM seq GROUP BY 1, 2
),
l0 AS (SELECT user_id, win_id, {', '.join(l0)} FROM win WHERE n = {wn}),
{layers_sql},
dist AS (SELECT user_id, win_id, {', '.join(finals)} FROM {prev})
SELECT user_id, win_id, {', '.join(dd)},
       {best} AS best_pattern,
       {best_d} <= {_DTW_THRESHOLD!r} AS is_change
FROM dist
"""


SQL_TS_DTW_CHANGE = _sql_dtw()

REGISTRY.update({"ts_dtw_change": (ts_dtw_change, SQL_TS_DTW_CHANGE)})


def ts_segment_sessions(spark, sf_dir):
    """Temporal segmentation: split each series into sessions at
    inactivity gaps > 1h and aggregate per segment (the time-domain
    analog of sits_segment's region-growing over adjacency,
    /root/reference/R/sits_segmentation.R:60-118 — here adjacency is
    temporal, the merge criterion is the gap threshold).

    api.segment labels the rows in one window pass keyed by user_id (the
    series key), so at 100 TB it partitions by series exactly like every
    other per-series operator here. Epoch-second arithmetic keeps the gap
    test integer-exact in both engines."""
    from . import api

    seg = api.segment(_t(spark, sf_dir, "events"), ["user_id"], ["ts", "event_id"], gap_s=3600)
    n = F.count(F.lit(1))
    return seg.groupBy("user_id", "seg_id").agg(
        F.min("ts").alias("seg_start"),
        F.max("ts").alias("seg_end"),
        n.alias("n_events"),
        # exact-decimal sum before the divide (repo convention, cf.
        # ts_mse_spectral): Spark's partial-agg order vs DuckDB's
        # sequential sum can differ at ulp level on raw doubles
        _r6(F.sum(F.col("value").cast(_DEC)).cast("double") / n).alias("avg_value"),
    )


SQL_TS_SEGMENT_SESSIONS = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         -- epoch_us // 1e6 floors like Spark's cast(ts AS long); a plain
         -- epoch()::BIGINT would round-half-even and disagree on the
         -- sub-second timestamps this table carries
         CASE WHEN (CAST(epoch_us(ts) AS BIGINT) // 1000000)
                   - lag(CAST(epoch_us(ts) AS BIGINT) // 1000000) OVER w
                   IS NULL
                OR (CAST(epoch_us(ts) AS BIGINT) // 1000000)
                   - lag(CAST(epoch_us(ts) AS BIGINT) // 1000000) OVER w
                   > 3600
              THEN 1 ELSE 0 END AS new_seg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
labeled AS (
  SELECT user_id, ts, value,
         -- DuckDB sum(int) is HUGEINT, which pandas would widen to
         -- float64; Spark emits int64
         CAST(sum(new_seg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS seg_id
  FROM flagged
)
SELECT user_id, seg_id, min(ts) AS seg_start, max(ts) AS seg_end,
       count(*) AS n_events,
       CAST(round(CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) / count(*), 6)
            AS DOUBLE) AS avg_value
FROM labeled GROUP BY 1, 2
"""


def ts_label_patterns(spark, sf_dir):
    """Per-label temporal patterns: align every series onto a shared
    24-slot diurnal timeline, average per (label, slot), then smooth the
    pattern with a centered 3-slot mean (sits_patterns' align-to-common-
    timeline + smooth-fit shape, /root/reference/R/sits_patterns.R:57-95,
    with the GAM fit replaced by a fixed moving-average kernel so both
    engines are closed-form; api.patterns)."""
    from . import api

    pat = api.patterns(_t(spark, sf_dir, "events"), "event_type", "value", F.hour("ts"))
    return pat.select(
        "label", "slot", "n_obs",
        _r6("pattern_raw").alias("pattern_raw"), _r6("pattern_smooth").alias("pattern_smooth"),
    )


SQL_TS_LABEL_PATTERNS = f"""
WITH hourly AS (
  SELECT event_type AS label, hour(ts) AS slot,
         CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sv, count(*) AS n_obs
  FROM events GROUP BY 1, 2
)
SELECT label, slot, n_obs,
       CAST(round(sv / n_obs, 6) AS DOUBLE) AS pattern_raw,
       CAST(round(avg(sv / n_obs) OVER (PARTITION BY label ORDER BY slot
                                        ROWS BETWEEN 1 PRECEDING AND 1
                                        FOLLOWING), 6) AS DOUBLE)
         AS pattern_smooth
FROM hourly
"""


REGISTRY.update(
    {
        "ts_segment_sessions": (ts_segment_sessions, SQL_TS_SEGMENT_SESSIONS),
        "ts_label_patterns": (ts_label_patterns, SQL_TS_LABEL_PATTERNS),
    }
)


# ---------------------------------------------------------------------------
# E9. hierarchical-clustering sample QA, oracle-checkable variant (round-5)
# ---------------------------------------------------------------------------

_CLU_NSEED = 12
_CLU_K = 4


def _clu_seeds() -> list[list[int]]:
    """Deterministic literal seed vectors (+-256 corner points in vq
    units = +-0.25 embedding units), LCG family offset from the ANN/SOM
    planes. They stand in for the bounded driver-side sample that
    ``ml.cluster_dendro`` draws; here they are literals so BOTH engines
    can assign against them."""
    return [[int(256 * v) for v in _plane(200 + j)] for j in range(_CLU_NSEED)]


def _clu_labels() -> list[int]:
    """Cluster label of each seed: the REAL ml.linkage_matrix/cut_tree
    (ward) over the seed matrix, run once at import on a 12-row input —
    the dendrogram recurrence itself is pytest-verified
    (tests/test_ml.py); this query oracle-checks the DISTRIBUTED half
    (exact-integer 1-NN assignment + per-cluster QA aggregation)."""
    import numpy as np

    from .ml import cut_tree, linkage_matrix

    S = np.asarray(_clu_seeds(), dtype=np.float64)
    Z = linkage_matrix(S, linkage="ward")
    return [int(x) for x in cut_tree(Z, len(S), k=_CLU_K)]


def emb_cluster_dendro(spark, sf_dir):
    """Dendrogram-cut sample QA over embeddings, integer-exact
    (sits_cluster_dendro + sits_cluster_frequency + sits_cluster_clean,
    /root/reference/R/sits_cluster.R:59,141,177). The dendrogram is cut
    over the literal seed set at plan build (ml.linkage_matrix, ward);
    every embedding row is then assigned to the cluster of its nearest
    seed by EXACT int64 distance (vq = floor(v*1024+0.5); ties -> lower
    seed index), and per-cluster QA is aggregated: member count, exact
    summed squared distance, majority label (ties -> smaller label) and
    purity — the quantities cluster_frequency/cluster_clean derive."""
    e = _t(spark, sf_dir, "embeddings")
    seeds = _clu_seeds()
    labels = _clu_labels()
    sqq = [sum(s * s for s in sd) for sd in seeds]
    vq = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))"
    )
    zero = F.lit(0).cast("long")
    base = e.select("vec_id", "label", vq.alias("vq")).withColumn(
        "vqq",
        F.aggregate(F.col("vq"), zero, lambda a, x: a + x * x),
    )
    d2 = F.array(
        *[
            (
                F.col("vqq")
                + F.lit(sqq[j]).cast("long")
                - 2
                * F.aggregate(
                    F.zip_with(
                        F.col("vq"),
                        F.array(*[F.lit(s) for s in seeds[j]]),
                        lambda x, y: x * y,
                    ),
                    zero,
                    lambda a, x: a + x,
                )
            ).cast("long")
            for j in range(_CLU_NSEED)
        ]
    )
    scored = base.select("vec_id", "label", F.posexplode(d2).alias("j", "d2"))
    wv = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("j"))
    lbl_arr = F.array(*[F.lit(l) for l in labels])
    assigned = (
        scored.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            lbl_arr[F.col("j")].alias("cluster"),
            "d2",
        )
    )
    counts = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("nl")
    )
    wmaj = Window.partitionBy("cluster").orderBy(F.desc("nl"), F.asc("label"))
    maj = (
        counts.withColumn("rn", F.row_number().over(wmaj))
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").alias("majority_label"),
            F.col("nl").alias("n_maj"),
        )
    )
    per = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"), F.sum("d2").alias("sum_d2")
    )
    return (
        per.join(maj, "cluster")
        .select(
            "cluster",
            "n_members",
            "majority_label",
            _r6(F.col("n_maj").cast("double") / F.col("n_members")).alias(
                "purity"
            ),
            "sum_d2",
        )
        .orderBy("cluster")
    )


def _sql_cluster_dendro() -> str:
    seeds = _clu_seeds()
    labels = _clu_labels()
    sqq = [sum(s * s for s in sd) for sd in seeds]
    d_parts = " UNION ALL ".join(
        f"SELECT vec_id, label, "
        f"{labels[j]} AS cluster, {j} AS j, "
        f"vqq + {sqq[j]} - 2 * CAST(list_dot_product(vq, "
        f"[{', '.join(str(s) for s in seeds[j])}]) AS BIGINT) AS d2 "
        "FROM bq"
        for j in range(_CLU_NSEED)
    )
    return f"""
WITH bq AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1024 + 0.5) AS BIGINT)) AS vq,
         CAST(list_dot_product(
           list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1024 + 0.5) AS BIGINT)),
           list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1024 + 0.5) AS BIGINT))
         ) AS BIGINT) AS vqq
  FROM embeddings
),
d AS ({d_parts}),
assigned AS (
  SELECT vec_id, label, cluster, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS rn FROM d
  ) WHERE rn = 1
),
counts AS (SELECT cluster, label, count(*) AS nl FROM assigned GROUP BY 1, 2),
maj AS (
  SELECT cluster, label AS majority_label, nl AS n_maj FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY nl DESC, label ASC) AS rn FROM counts
  ) WHERE rn = 1
),
per AS (
  SELECT cluster, count(*) AS n_members, CAST(sum(d2) AS BIGINT) AS sum_d2
  FROM assigned GROUP BY 1
)
SELECT cluster, n_members, majority_label,
       CAST(round(CAST(n_maj AS DOUBLE) / n_members, 6) AS DOUBLE) AS purity,
       sum_d2
FROM per JOIN maj USING (cluster)
ORDER BY cluster
"""


SQL_EMB_CLUSTER_DENDRO = _sql_cluster_dendro()

REGISTRY.update(
    {"emb_cluster_dendro": (emb_cluster_dendro, SQL_EMB_CLUSTER_DENDRO)}
)


# ---------------------------------------------------------------------------
# E10. dedup GROUP assignment: connected components over LSH pairs (round-5)
# ---------------------------------------------------------------------------

_CC_MAX_ROUNDS = 20


def doc_dedup_groups(spark, sf_dir):
    """Near-duplicate GROUP ids: transitive closure of the MinHash-LSH
    candidate graph, each doc labeled with its component's minimum
    doc_id plus the component size — the step that turns pairwise
    near-dup hits into deduplicatable clusters (keep one per group).

    Distributed algorithm: min-label propagation on the symmetrized
    edge list — labels(v) <- min(labels(v), min over neighbors'
    labels) — iterated to a driver-checked fixpoint (<= _CC_MAX_ROUNDS,
    one cheap existence-check job per round; each round is one
    shuffle-join + hash-agg over the BOUNDED candidate-pair table, and
    lineage is truncated per round via localCheckpoint so the plan
    stays flat). Rounds needed = graph diameter; near-dup components
    are dense (bands admit cliques), so diameter stays small even at
    100 TB — the standard large-scale CC pattern (cf. connected
    components in GraphX / union-find-over-MapReduce literature).
    Singleton docs keep their own id as group_id."""
    pairs = doc_minhash_lsh(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    labels = docs.select(
        F.col("doc_id").alias("v"), F.col("doc_id").alias("lbl")
    ).localCheckpoint()
    try:
        changed = 0
        for _ in range(_CC_MAX_ROUNDS):
            nbr = edges.join(
                labels, edges["dst"] == labels["v"], "inner"
            ).select(F.col("src").alias("v"), "lbl")
            new_labels = (
                labels.unionByName(nbr)
                .groupBy("v")
                .agg(F.min("lbl").alias("lbl"))
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "v")
                .where(F.col("n.lbl") != F.col("o.lbl"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            # ADVICE r5: falling through with unconverged labels would
            # silently return WRONG group ids (long chains can exceed the
            # round budget at scale, and the transitive-closure oracle
            # would diverge) — fail loudly instead of returning partials
            raise RuntimeError(
                f"doc_dedup_groups: min-label propagation did not reach a "
                f"fixpoint within _CC_MAX_ROUNDS={_CC_MAX_ROUNDS} rounds "
                f"(component diameter exceeds the budget); raise "
                f"_CC_MAX_ROUNDS rather than using partial labels"
            )
    finally:
        edges.unpersist()
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("group_size"))
    return labels.join(sizes, "lbl").select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("group_id"),
        "group_size",
    )


SQL_DOC_DEDUP_GROUPS = f"""
WITH RECURSIVE
pairs AS ({SQL_DOC_MINHASH_LSH}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.v = e.t
),
lbl AS (SELECT v AS doc_id, min(r) AS group_id FROM reach GROUP BY v),
sz AS (SELECT group_id, CAST(count(*) AS BIGINT) AS group_size FROM lbl GROUP BY 1)
SELECT doc_id, group_id, group_size FROM lbl JOIN sz USING (group_id)
"""

REGISTRY.update(
    {"doc_dedup_groups": (doc_dedup_groups, SQL_DOC_DEDUP_GROUPS)}
)


# ---------------------------------------------------------------------------
# F. flagship transcript-engine oracles in the MAIN registry (VERDICT r2 #1):
#    the ev_* variants reference only driver-registered views on the SQL
#    side, so no sandboxed-DuckDB / external-file filter can drop them.
# ---------------------------------------------------------------------------

def _register_transcript_oracles() -> None:
    from .transcript_queries import EV_REGISTRY, FIXTURE_REGISTRY

    REGISTRY.update(EV_REGISTRY)
    REGISTRY.update(FIXTURE_REGISTRY)


_register_transcript_oracles()
