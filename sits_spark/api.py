"""User-facing API facade: the reference's verbs as DataFrame functions.

The reference exposes its engine through a small vocabulary of user verbs
(sits_cube / sits_select / sits_apply / sits_reduce / sits_merge /
sits_smooth / sits_label_classification / sits_uncertainty / sits_sample /
sits_detect_change — R/sits_cube.R, R/sits_select.R:33-90,
R/sits_apply.R:89-160, R/sits_reduce.R:104-203, R/api_merge.R:144-230,
R/sits_smooth.R, R/sits_labels.R, R/sits_uncertainty.R:72-168,
R/sits_sample_functions.R:27, R/sits_detect_change.R:41-177). This module
is the equivalent vocabulary for this engine: every verb is DataFrame-in /
DataFrame-out and purely declarative (built-in Catalyst expressions), so a
chain of verbs compiles to ONE optimized plan — filters and projections
still reach the parquet scan, joins still broadcast/shuffle by size, and
nothing materializes between verbs. Only `smooth` with the SG/Whittaker
matrix kernels drops to Arrow (`mapInArrow`, batched per key run), exactly
like the tier pipeline.

This module is the parameterizable surface a user migrating from the
reference would call. The DuckDB-checked registry rows (queries.py,
facade_queries.py) call these verbs with fixed parameters, so the oracle
checks the code users run.
"""

from __future__ import annotations

from typing import Callable, Iterator, Mapping, Sequence

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf type hints resolve here
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .batching import arrow_conv_batches, conv_bounds, record_batch
from .engine_core import concat_ranges
from .kernels import smooth_sg_mtx, smooth_whit_ragged
from .ml import (  # noqa: F401 — re-exported verbs
    MLPModel,
    RandomForestModel,
    cluster_clean,
    cluster_dendro,
    cluster_frequency,
    tune,
)
from .operators import reduce as _red
from .session import read_parquet

__all__ = [
    "cube",
    "select",
    "apply",
    "reduce",
    "merge",
    "smooth",
    "variance",
    "softmax",
    "label_classification",
    "uncertainty",
    "uncertainty_sampling",
    "confidence_sampling",
    "combine_predictions",
    "sampling_design",
    "normalize",
    "accuracy",
    "clean",
    "segment",
    "patterns",
    "reclassify",
    "classify",
    "LinearSoftmaxModel",
    "RandomForestModel",
    "MLPModel",
    "tune",
    "cluster_dendro",
    "cluster_frequency",
    "cluster_clean",
    "validate_kfold",
    "predictors",
    "sample",
    "stratified_sample",
    "smote",
    "som_train",
    "som_map",
    "som_clean",
    "detect_change",
    "detect_change_dtw",
]


# ---------------------------------------------------------------- cube


def cube(spark: SparkSession, path: str) -> DataFrame:
    """sits_cube local source (R/sits_cube.R local flavor): schema-on-read
    scan of a parquet table/directory. Partition discovery, predicate
    pushdown and column pruning are Catalyst's; the inferred schema is
    memoised per session and input (``session.read_parquet``)."""
    return read_parquet(spark, path)


# ---------------------------------------------------------------- select


def select(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    start=None,
    end=None,
    ts_col: str = "ts",
    where: Column | str | None = None,
) -> DataFrame:
    """sits_select (R/sits_select.R:33-90): band (column) subset, temporal
    interval [start, end), and an optional extra predicate. All three are
    plain Catalyst filters/projections -> pushed into the scan."""
    out = df
    if start is not None:
        out = out.where(F.col(ts_col) >= F.lit(start))
    if end is not None:
        out = out.where(F.col(ts_col) < F.lit(end))
    if where is not None:
        out = out.where(F.expr(where) if isinstance(where, str) else where)
    if columns is not None:
        out = out.select(*columns)
    return out


# ---------------------------------------------------------------- apply


def apply(df: DataFrame, **exprs: Column | str) -> DataFrame:
    """sits_apply expression capture (R/sits_apply.R:89-160): each kwarg
    is a new/replaced column; strings go through the SQL parser, Columns
    pass through. The reference captures an R expression and evaluates it
    per block in C++; here the captured expression IS the Catalyst plan,
    so it runs JVM-side under whole-stage codegen."""
    named = {
        name: (F.expr(e) if isinstance(e, str) else e) for name, e in exprs.items()
    }
    return df.withColumns(named)


# ---------------------------------------------------------------- reduce

# metric name -> Column builder over the value column. Same kernel set as
# the reference's reduce_fns.cpp:12-92 (t_mse lives in queries.ts_mse_spectral
# as it needs the series materialized; fslope needs an ordering -> order_by).
_PLAIN_METRICS: dict[str, Callable[[Column], Column]] = {
    "min": _red.t_min,
    "max": _red.t_max,
    "amplitude": _red.t_amplitude,
    "mean": _red.t_mean,
    "std": _red.t_std,
    "count": F.count,
}
# quartile metrics -> reader over the shared t_quartiles buffer
_PCT_METRICS: dict[str, Callable[[Column], Column]] = {
    "q25": lambda p: p[_red.Q25],
    "median": lambda p: p[_red.MEDIAN],
    "q75": lambda p: p[_red.Q75],
    "iqr": lambda p: p[_red.Q75] - p[_red.Q25],
}


def reduce(
    df: DataFrame,
    keys: Sequence[str],
    value: str = "value",
    metrics: Sequence[str] = ("mean", "std", "min", "max"),
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """sits_reduce (R/sits_reduce.R:104-203 -> src/reduce_fns.cpp): named
    temporal statistics per key group, one shuffle total.

    Plain metrics are single-pass Catalyst aggregates; ``mean``/``std``
    divide exact decimal(18,4) sums (operators.reduce._dec contract) and
    ``count`` counts non-NULL values. ``median``/``q25``/``q75``/``iqr``
    all read ONE shared percentile buffer (operators.reduce.t_quartiles),
    so asking for several costs one value-count map per group, not one
    each. ``skew``/``kurt`` use the reference's exact two-pass
    central-moment formulas (reduce_fns.cpp:37-60): a means subaggregate
    shuffle-joined back (never broadcast — key cardinality grows with
    data). ``fslope`` (reduce_fns.cpp:68-70) needs ``order_by`` and adds
    one window pass. Output columns are named after the metrics."""
    vcol = F.col(value)
    known = [*_PLAIN_METRICS, *_PCT_METRICS, "skew", "kurt", "fslope"]
    unknown = [m for m in metrics if m not in known]
    if unknown:
        raise ValueError(f"unknown metrics: {unknown}; known: {sorted(known)}")

    src = df
    if "fslope" in metrics:
        if not order_by:
            raise ValueError("fslope needs order_by (series ordering)")
        src = src.withColumn(
            "_fslope_diff",
            _red.t_fslope(vcol, [F.col(c) for c in order_by], list(keys)),
        )
    needs_moments = "skew" in metrics or "kurt" in metrics
    if needs_moments:
        # two-pass central moments: a single-pass power-sum form would
        # be one scan but catastrophically cancels for |x| >> sd
        means = src.groupBy(*keys).agg(_red.t_mean(vcol).alias("_m"))
        src = src.join(means, list(keys))  # shuffle join: means ~ |keys|

    aggs: list[Column] = []
    outs: list[Column] = []
    for m in metrics:
        if m in _PCT_METRICS:
            outs.append(_PCT_METRICS[m](F.col("_pct")).alias(m))
            continue
        if m in _PLAIN_METRICS:
            agg = _PLAIN_METRICS[m](vcol)
        elif m == "fslope":
            agg = F.max("_fslope_diff")
        else:  # skew / kurt, reference formulas over d = x - mean
            moment = _red.t_skew if m == "skew" else _red.t_kurt
            agg = moment(vcol, F.col("_m"))
        aggs.append(agg.alias(m))
        outs.append(F.col(m))
    if any(m in _PCT_METRICS for m in metrics):
        # round 6 (guide §1.2 per-task work): the quartiles (and the IQR
        # difference) share ONE percentile(value, array(...)) aggregate
        # buffer instead of building an independent value-count map per
        # metric per group. Spark evaluates the array form with the exact
        # same interpolation as the scalar calls (median == percentile
        # 0.5), so every output is bit-identical.
        aggs.append(_red.t_quartiles(vcol).alias("_pct"))
    return src.groupBy(*keys).agg(*aggs).select(*keys, *outs)


# ---------------------------------------------------------------- merge


def merge(
    a: DataFrame,
    b: DataFrame,
    how: str = "bind",
    keys: Sequence[str] = ("conv_id", "ts"),
) -> DataFrame:
    """sits_merge strategies (R/api_merge.R:144-230):

    - ``bind``: union by name (timelines assumed compatible; the
      reference's irregular path).
    - ``densify``: full outer join on ``keys`` — union of both timelines,
      NULLs where one side lacks an observation (gap-fill feeds downstream).
    - ``compactify``: inner join on ``keys`` — timeline intersection.
    """
    if how == "bind":
        return a.unionByName(b, allowMissingColumns=True)
    if how not in ("densify", "compactify"):
        raise ValueError(f"how must be bind|densify|compactify, got {how!r}")
    join_type = "full_outer" if how == "densify" else "inner"
    # disambiguate non-key columns with side suffixes, as the reference does
    akeys = set(keys)
    a_r = a.select(*keys, *[F.col(c).alias(f"{c}_a") for c in a.columns if c not in akeys])
    b_r = b.select(*keys, *[F.col(c).alias(f"{c}_b") for c in b.columns if c not in akeys])
    return a_r.join(b_r, list(keys), join_type)


# ---------------------------------------------------------------- smooth


def smooth(
    df: DataFrame,
    key: str = "conv_id",
    order_by: str | Sequence[str] = "ts",
    value: str = "value",
    method: str = "sg",
    out: str = "smoothed",
    order: int = 3,
    length: int = 5,
    lamb: float = 0.5,
    window: int = 2,
    smoothness: float = 0.75,
    partitions: int | None = None,
) -> DataFrame:
    """sits_smooth / sits_apply kernel smoothing over per-key series.

    - ``sg``: Savitzky-Golay with the reference's asymmetric edge rows
      (src/smooth_sgp.cpp:37-59) — Arrow path.
    - ``whittaker``: exact boundary-recurrence Whittaker
      (src/smooth_whit.cpp) — Arrow path.
    - ``bayes``: variance-weighted posterior over a +-window neighborhood
      (src/smooth_bayes.cpp:20-78, neigh_fraction=1) — pure Catalyst
      window expressions, no Python at all.

    The Arrow path clusters rows by key (`repartition(key)` +
    `sortWithinPartitions(key, order_by)` — one shuffle) and streams
    mapInArrow batches re-chunked to whole key runs. SG smooths each run
    as a 1xT matrix; Whittaker smooths all runs of a batch in one
    ``smooth_whit_ragged`` call, bit-identical per run to the 1xT solve —
    the same kernels the tier pipeline uses.
    Output = input columns + ``out`` (double). Keeps input row order
    within each series."""
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    if method == "bayes":
        w = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(-window, window)
        m0 = F.avg(value).over(w)
        s0 = F.var_samp(value).over(w)
        wt = s0 / (s0 + F.lit(smoothness))
        post = F.when(s0 < 1e-4, m0).otherwise(wt * F.col(value) + (1.0 - wt) * m0)
        return df.withColumn(out, post)
    if method not in ("sg", "whittaker"):
        raise ValueError(f"method must be sg|whittaker|bayes, got {method!r}")

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    # StructType.add MUTATES in place — never touch df.schema with it
    out_schema_spark = StructType(df.schema.fields + [StructField(out, DoubleType())])
    pa_schema = to_arrow_schema(out_schema_spark)
    n_parts = partitions or df.sparkSession.sparkContext.defaultParallelism * 2

    def _iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl in arrow_conv_batches(batches, key=key):
            vals = np.asarray(tbl[value], dtype=np.float64)
            _starts, bounds = conv_bounds(tbl[key])
            if method == "sg":
                sm = np.empty_like(vals)
                for s, e in zip(bounds[:-1], bounds[1:]):
                    sm[s:e] = smooth_sg_mtx(vals[s:e][None, :], order=order, length=length)[0]
            else:
                # every series of the batch in one ragged solve, longest first
                by_len = np.argsort(-np.diff(bounds), kind="stable")
                lens = np.diff(bounds)[by_len]
                offs = np.concatenate([[0], np.cumsum(lens)[:-1]])
                pos = concat_ranges(bounds[:-1][by_len], lens)
                sm = np.empty_like(vals)
                sm[pos] = smooth_whit_ragged(vals[pos], offs, lens, lamb)
            tbl = dict(tbl)
            tbl[out] = sm
            yield record_batch(tbl, pa_schema)

    clustered = df.repartition(n_parts, key).sortWithinPartitions(key, *order_cols)
    return clustered.mapInArrow(_iter, out_schema_spark)


def variance(
    df: DataFrame,
    key: str = "conv_id",
    order_by: str | Sequence[str] = "ts",
    value: str = "value",
    window: int = 2,
    out: str = "variance",
    exact: bool = False,
) -> DataFrame:
    """sits_variance (/root/reference/R/sits_variance.R): the local
    neighborhood variance of a value series — the diagnostic the
    reference exposes so users can pick ``smoothness`` for bayes
    smoothing (its spatial w x w window becomes the temporal +-window
    frame here, the same frame ``smooth(method='bayes')`` weights by).
    Pure Catalyst window expressions.

    ``exact=True`` computes sample variance from exact decimal(18,4)
    sums — (n*sum(x^2) - sum(x)^2) / (n*(n-1)) — so the result is
    reproducible bit-for-bit across engines and shuffle orders (the
    repo's exact-decimal convention); default uses the built-in
    ``var_samp`` (Welford, JVM-side).

    EXACTNESS CONTRACT (ADVICE r5): s1 is decimal(28,4) after the window
    sum, so s1*s1 (precision 57) exceeds decimal(38) and Spark truncates
    the product to scale 6 under allowPrecisionLoss. The ``exact`` path
    is therefore bit-exact only for inputs quantized to <= 3 fractional
    decimal digits (the facade's data is 2 dp); inputs needing the full
    4-dp scale can disagree with an oracle that falls back to double at
    the round(., 6) boundary."""
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(-window, window)
    if not exact:
        return df.withColumn(out, F.var_samp(value).over(w))
    xd = F.col(value).cast("decimal(18,4)")
    n = F.count(value).over(w)
    s1 = F.sum(xd).over(w)
    s2 = F.sum(xd * xd).over(w)
    var = (
        (n.cast("decimal(38,8)") * s2 - s1 * s1)
        .cast("double")
        / (n * (n - 1)).cast("double")
    )
    return df.withColumn(out, F.when(n > 1, var))


# ------------------------------------------------------- classification


def softmax(df: DataFrame, cols: Sequence[str], prefix: str = "p_") -> DataFrame:
    """Log-sum-exp softmax over logit columns (src/softmax.cpp:14):
    numerically stable, pure expressions."""
    mx = F.greatest(*[F.col(c) for c in cols])
    denom = sum((F.exp(F.col(c) - mx) for c in cols[1:]), F.exp(F.col(cols[0]) - mx))
    return df.withColumns({f"{prefix}{c}": F.exp(F.col(c) - mx) / denom for c in cols})


def label_classification(
    df: DataFrame, prob_cols: Sequence[str], out: str = "label"
) -> DataFrame:
    """sits_label_classification (R/sits_labels.R): argmax over probability
    columns, first-wins on ties (matches the reference's which.max)."""
    pairs = F.array(*[F.struct(F.col(c).alias("p"), F.lit(c).alias("name")) for c in prob_cols])
    best = F.aggregate(
        pairs,
        F.struct(F.lit(float("-inf")).alias("p"), F.lit("").alias("name")),
        lambda acc, x: F.when(x["p"] > acc["p"], x).otherwise(acc),
    )
    return df.withColumn(out, best["name"])


def uncertainty(
    df: DataFrame, prob_cols: Sequence[str], method: str = "entropy", out: str = "uncert"
) -> DataFrame:
    """sits_uncertainty (R/sits_uncertainty.R:72-168 -> src/uncertainty.cpp:7-25):

    - ``entropy``: -sum(p ln p) / ln(k)  (normalized)
    - ``margin``:  1 - (p1 - p2)
    - ``least``:   1 - max(p)
    """
    ps = [F.col(c) for c in prob_cols]
    if method == "entropy":
        ent = sum(
            (F.when(p > 0, -p * F.log(p)).otherwise(F.lit(0.0)) for p in ps[1:]),
            F.when(ps[0] > 0, -ps[0] * F.log(ps[0])).otherwise(F.lit(0.0)),
        )
        expr = ent / float(np.log(len(prob_cols)))
    elif method == "margin":
        arr = F.array_sort(F.array(*ps))
        k = len(prob_cols)
        expr = 1.0 - (arr[k - 1] - arr[k - 2])
    elif method == "least":
        expr = 1.0 - F.greatest(*ps)
    else:
        raise ValueError(f"method must be entropy|margin|least, got {method!r}")
    return df.withColumn(out, expr)


def uncertainty_sampling(
    df: DataFrame,
    key: str,
    order_by: str | Sequence[str],
    uncert_col: str,
    n: int = 100,
    min_uncert: float = 0.4,
    window: int = 10,
) -> DataFrame:
    """sits_uncertainty_sampling (/root/reference/R/sits_uncertainty.R:254,
    src C_max_sampling): active-learning pick of the rows most worth
    labeling — non-maximum suppression (keep only rows whose uncertainty
    is the maximum within the +-``window`` frame of their own series;
    the reference's spatial window becomes the temporal frame), then
    ``min_uncert`` threshold, then global top-``n``. The reference
    shuffles before slice_max; ties here break by (key, order) instead
    so the selection replays exactly. Top-n is orderBy+limit
    (TakeOrdered — no single-partition window at scale)."""
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-window, window)
    )
    cand = df.withColumn("_wmax", F.max(uncert_col).over(w)).where(
        (F.col(uncert_col) == F.col("_wmax"))
        & (F.col(uncert_col) >= min_uncert)
    )
    return (
        cand.drop("_wmax")
        .orderBy(F.desc(uncert_col), F.asc(key), *[F.asc(c) for c in order_cols])
        .limit(n)
    )


def confidence_sampling(
    df: DataFrame,
    key: str,
    order_by: str | Sequence[str],
    prob_cols: Sequence[str],
    n_per_class: int = 20,
    min_margin: float = 0.5,
    window: int = 10,
) -> DataFrame:
    """sits_confidence_sampling (/root/reference/R/
    sits_sample_functions.R:119): per class, the most CONFIDENT rows —
    argmax class, margin (p1 - p2) >= ``min_margin``, top-probability
    locally maximal within the +-``window`` frame of the series, then
    top-``n_per_class`` per class (a per-class window rank — partitions
    bounded by the label vocabulary). Adds ``sampled_label`` and
    ``sampled_margin``."""
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    ps = [F.col(c) for c in prob_cols]
    arr = F.array_sort(F.array(*ps))
    k = len(prob_cols)
    p1 = arr[k - 1]
    margin = p1 - arr[k - 2]
    # argmax label, first class wins ties (which.max)
    lbl = F.lit(prob_cols[0])
    best = ps[0]
    for c in prob_cols[1:]:
        lbl = F.when(F.col(c) > best, F.lit(c)).otherwise(lbl)
        best = F.greatest(best, F.col(c))
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-window, window)
    )
    cand = (
        df.withColumn("_p1", p1)
        .withColumn("sampled_margin", margin)
        .withColumn("sampled_label", lbl)
        .withColumn("_wmax", F.max("_p1").over(w))
        .where(
            (F.col("_p1") == F.col("_wmax"))
            & (F.col("sampled_margin") >= min_margin)
        )
    )
    rank_w = Window.partitionBy("sampled_label").orderBy(
        F.desc("_p1"), F.asc(key), *[F.asc(c) for c in order_cols]
    )
    return (
        cand.withColumn("_rn", F.row_number().over(rank_w))
        .where(F.col("_rn") <= n_per_class)
        .drop("_p1", "_wmax", "_rn")
    )


def sampling_design(
    df: DataFrame,
    label_col: str,
    expected_ua: "float | Mapping[str, float]" = 0.75,
    alloc_options: Sequence[int] = (100, 75, 50),
    std_err: float = 0.01,
    rare_class_prop: float = 0.1,
    weight_col: str | None = None,
) -> DataFrame:
    """sits_sampling_design (/root/reference/R/
    sits_sample_functions.R:312): Cochran sample-size + per-class
    allocation table for accuracy assessment. Per class: area share
    ``prop`` (row count or ``weight_col`` sum), stratum standard
    deviation ``std_dev = signif(sqrt(ua*(1-ua)), 3)``, overall
    ``sample_size = round((sum(prop*std_dev)/std_err)^2)``; allocations:
    ``equal`` (size/n_classes), one ``alloc_<k>`` per option (rare
    classes — prop <= rare_class_prop — get the fixed k, the rest share
    the remainder proportionally among non-rare area), and
    ``alloc_prop`` (proportional). All Catalyst: the per-class table is
    bounded by the label vocabulary, so the unpartitioned windows over
    it are bounded too — only the initial count aggregates over data.
    Deviation: R's round() is half-to-even; this uses Spark/DuckDB
    half-up (documented, affects .5 boundaries only)."""
    wexpr = F.sum(weight_col) if weight_col else F.count(F.lit(1))
    per = df.groupBy(F.col(label_col).alias("label")).agg(
        wexpr.cast("double").alias("_area")
    )
    wall = Window.partitionBy()
    if isinstance(expected_ua, Mapping):
        ua = F.lit(None).cast("double")
        for k, v in expected_ua.items():
            ua = F.when(F.col("label") == k, float(v)).otherwise(ua)
    else:
        ua = F.lit(float(expected_ua))
    prop = F.col("_area") / F.sum("_area").over(wall)
    sd_raw = F.sqrt(ua * (1.0 - ua))
    # signif(x, 3): round to 3 significant digits
    scale = F.pow(F.lit(10.0), F.floor(F.log10(sd_raw)) - 2)
    sd = F.round(sd_raw / scale) * scale
    base = per.select(
        "label",
        prop.alias("prop"),
        ua.alias("expected_ua"),
        sd.alias("std_dev"),
    )
    size = F.round(
        F.pow(F.sum(F.col("prop") * F.col("std_dev")).over(wall) / std_err, 2.0)
    ).cast("long")
    is_rare = F.col("prop") <= rare_class_prop
    n_classes = F.count(F.lit(1)).over(wall)
    n_rare = F.sum(is_rare.cast("long")).over(wall)
    rare_prop_sum = F.sum(F.when(is_rare, F.col("prop")).otherwise(0.0)).over(wall)
    cols = [
        F.col("label"),
        F.col("prop"),
        F.col("expected_ua"),
        F.col("std_dev"),
        size.alias("sample_size"),
        F.round(size / n_classes).cast("long").alias("equal"),
    ]
    for al in alloc_options:
        remaining = size - F.lit(int(al)) * n_rare
        choice = F.when(is_rare, F.lit(int(al)).cast("long")).otherwise(
            F.round(F.col("prop") / (1.0 - rare_prop_sum) * remaining).cast("long")
        )
        cols.append(choice.alias(f"alloc_{al}"))
    cols.append(F.round(F.col("prop") * size).cast("long").alias("alloc_prop"))
    return base.select(*cols)


def combine_predictions(
    dfs: Sequence[DataFrame],
    keys: Sequence[str],
    prob_cols: Sequence[str],
    type: str = "average",
    weights: Sequence[float] | None = None,
    uncert_col: str | None = None,
) -> DataFrame:
    """sits_combine_predictions (/root/reference/R/
    sits_combine_predictions.R, src weighted_probs /
    weighted_uncert_probs in RcppExports): ensemble-combine N
    probability frames joined on ``keys``.

    - ``average``: fixed ``weights`` (default 1/N; must sum to 1).
    - ``uncertainty``: per-ROW weights proportional to the inverse of
      each model's ``uncert_col`` — algebraically w_i = (1/u_i) /
      sum_j (1/u_j), which is what the reference's chain of
      normalize -> invert -> renormalize computes. NOTE deviation: the
      reference's C++ loop indexes ``conf(i,0)`` where ``conf(i,c)`` is
      clearly intended (every model would get model 0's weight); this
      implements the intended per-model weight.

    All N-way joins are equi-joins on ``keys`` (co-partitioned by the
    join — no broadcast of model frames, whose size is data-sized)."""
    if type not in ("average", "uncertainty"):
        raise ValueError(f"type must be average|uncertainty, got {type!r}")
    n = len(dfs)
    if n < 2:
        raise ValueError("need at least 2 prediction frames")
    keys = list(keys)
    if type == "average":
        weights = list(weights) if weights is not None else [1.0 / n] * n
        if len(weights) != n:
            raise ValueError("weights length must match number of frames")
        if abs(sum(weights) - 1.0) > 1e-9:
            raise ValueError("weights must sum to 1")
    else:
        if uncert_col is None:
            raise ValueError("type='uncertainty' needs uncert_col")

    def tagged(df: DataFrame, i: int) -> DataFrame:
        cols = [F.col(c) for c in keys] + [
            F.col(c).alias(f"{c}_{i}") for c in prob_cols
        ]
        if type == "uncertainty":
            cols.append(F.col(uncert_col).alias(f"_u_{i}"))
        return df.select(*cols)

    joined = tagged(dfs[0], 0)
    for i in range(1, n):
        joined = joined.join(tagged(dfs[i], i), keys)
    if type == "uncertainty":
        # ADVICE r5: clamp to a floor — a model reporting u == 0 for a
        # row would make 1/u infinite and every combined probability NaN
        inv = [
            1.0 / F.greatest(F.col(f"_u_{i}"), F.lit(1e-12)) for i in range(n)
        ]
        denom = inv[0]
        for iv in inv[1:]:
            denom = denom + iv
        wcols = [iv / denom for iv in inv]
    else:
        wcols = [F.lit(w) for w in weights]
    out_cols = [F.col(c) for c in keys]
    for c in prob_cols:
        acc = wcols[0] * F.col(f"{c}_0")
        for i in range(1, n):
            acc = acc + wcols[i] * F.col(f"{c}_{i}")
        out_cols.append(acc.alias(c))
    return joined.select(*out_cols)


def normalize(
    df: DataFrame, cols: Sequence[str], lo: float, hi: float, suffix: str = "_norm"
) -> DataFrame:
    """Min-max normalization with clamp to [0, 1] (the reference's
    normalization used before model inference, R/api_ml_model.R)."""
    span = hi - lo
    return df.withColumns(
        {
            f"{c}{suffix}": F.least(F.greatest((F.col(c) - lo) / span, F.lit(0.0)), F.lit(1.0))
            for c in cols
        }
    )


# ------------------------------------------------------------- accuracy


def accuracy(df: DataFrame, ref_col: str, pred_col: str) -> DataFrame:
    """Accuracy assessment (reference sits_accuracy, R/sits_accuracy.R:54
    user/producer/overall + Cohen's kappa): one row per reference class
    with its user's/producer's accuracy, plus the overall accuracy and
    kappa repeated on every row (a single flat hash-checkable shape).

    One shuffle: the (ref, pred) confusion counts; every derived metric
    is arithmetic over the tiny aggregated matrix (class-count sized, so
    the follow-up aggregations are driver-trivial at any data scale)."""
    cm = df.groupBy(
        F.col(ref_col).alias("ref"), F.col(pred_col).alias("pred")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cm.agg(
        F.sum("n").alias("n_total"),
        F.sum(F.when(F.col("ref") == F.col("pred"), F.col("n")).otherwise(0)).alias(
            "n_diag"
        ),
    )
    refs = cm.groupBy("ref").agg(F.sum("n").alias("n_ref"))
    preds = cm.groupBy(F.col("pred").alias("cls")).agg(F.sum("n").alias("n_pred"))
    diag = cm.where(F.col("ref") == F.col("pred")).select(
        F.col("ref").alias("cls_d"), F.col("n").alias("n_correct")
    )
    # pe = sum_c rowsum_c * colsum_c / N^2 (chance agreement)
    per = (
        refs.join(preds, refs["ref"] == preds["cls"], "full")
        .select(
            F.coalesce("ref", "cls").alias("cls"),
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        )
        .join(diag, F.col("cls") == F.col("cls_d"), "left")
        .select(
            "cls", "n_ref", "n_pred",
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )
    pe_sum = per.agg(
        F.sum(F.col("n_ref").cast("double") * F.col("n_pred")).alias("pe_num")
    )
    out = per.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(pe_sum))
    po = F.col("n_diag").cast("double") / F.col("n_total")
    pe = F.col("pe_num") / (F.col("n_total").cast("double") * F.col("n_total"))
    return out.select(
        "cls",
        "n_ref",
        "n_pred",
        "n_correct",
        # try_divide: a class absent from predictions (or references)
        # yields NULL accuracy instead of an ANSI divide-by-zero error
        F.round(
            F.try_divide(F.col("n_correct").cast("double"), F.col("n_pred")), 6
        ).alias("user_acc"),
        F.round(
            F.try_divide(F.col("n_correct").cast("double"), F.col("n_ref")), 6
        ).alias("prod_acc"),
        F.round(po, 6).alias("overall_acc"),
        # try_divide: a single-class matrix has pe == 1 (kappa undefined)
        F.round(F.try_divide(po - pe, F.lit(1.0) - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------- clean


def clean(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    label_col: str,
    radius: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """sits_clean (R/sits_clean.R): replace each observation's label with
    the MODAL label of its ±radius neighborhood along the series — the
    post-classification smoothing that removes salt-and-pepper noise.
    Deterministic ties: the lexicographically smallest most-frequent
    label. Pure Catalyst window + array expressions (frame is tiny, the
    O(w²) count lambdas are constant work per row)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(-radius, radius)
    )
    modal = (
        "array_min(filter(_warr, x -> "
        " size(filter(_warr, y -> y = x)) ="
        " array_max(transform(_warr, x -> size(filter(_warr, y -> y = x))))))"
    )
    return (
        df.withColumn("_warr", F.collect_list(F.col(label_col)).over(w))
        .withColumn(out_col or label_col, F.expr(modal))
        .drop("_warr")
    )


# ----------------------------------------------------------- reclassify


def segment(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    ts_col: str = "ts",
    gap_s: int = 3600,
    out_col: str = "seg_id",
) -> DataFrame:
    """Temporal segmentation (the time-domain analog of sits_segment,
    R/sits_segmentation.R:60-118: adjacency is temporal, the merge
    criterion is an inactivity gap > ``gap_s`` seconds). Labels every row
    with a 1-based per-key segment id via islands-and-gaps: one running
    sum of new-segment flags over the ordered per-key window — a single
    window pass keyed by the series key, no iteration, no UDF."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    # the timestamp hop keeps NTZ columns castable to epoch seconds
    s = F.col(ts_col).cast("timestamp").cast("long")
    gap = s - F.lag(s).over(w)
    seg = F.sum(
        F.when(gap.isNull() | (gap > gap_s), F.lit(1)).otherwise(F.lit(0))
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(out_col, seg)


def patterns(
    df: DataFrame,
    label_col: str,
    value: str,
    slot: Column | str,
    smooth_radius: int = 1,
) -> DataFrame:
    """Per-label temporal patterns (sits_patterns,
    R/sits_patterns.R:57-95): align every series onto the shared ``slot``
    timeline, average per (label, slot), then smooth each label's curve
    with a centered moving mean of half-width ``smooth_radius`` (the
    closed-form stand-in for the reference's GAM fit). The second stage
    is bounded by the label vocabulary, not the data.

    The per-slot mean divides an exact decimal(18,4) partial sum
    (operators.reduce._dec, the contract ``reduce``'s mean has), so it
    does not depend on Spark's partial-aggregate combine order."""
    slot_col = F.col(slot) if isinstance(slot, str) else slot
    hourly = df.groupBy(
        F.col(label_col).alias("label"), slot_col.alias("slot")
    ).agg(
        F.sum(_red._dec(F.col(value))).alias("_sv"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    w = (
        Window.partitionBy("label")
        .orderBy("slot")
        .rowsBetween(-smooth_radius, smooth_radius)
    )
    raw = F.col("_sv").cast("double") / F.col("n_obs")
    return hourly.select(
        "label",
        "slot",
        "n_obs",
        raw.alias("pattern_raw"),
        F.avg(raw).over(w).alias("pattern_smooth"),
    )


def reclassify(
    df: DataFrame,
    col: str,
    rules: Mapping[str, str],
    default: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Rule-based label remap (reference sits_reclassify,
    R/sits_reclassify.R + R/api_reclassify.R): an ordered CASE cascade —
    first matching rule wins. Labels matching no rule keep their value
    (or take ``default`` when given). Pure Catalyst, no shuffle."""
    expr: Column | None = None
    for old, new in rules.items():
        cond = F.col(col) == old
        expr = F.when(cond, new) if expr is None else expr.when(cond, new)
    fallback = F.lit(default) if default is not None else F.col(col)
    expr = fallback if expr is None else expr.otherwise(fallback)
    return df.withColumn(out_col or col, expr)


# ------------------------------------------------------------- classify


class LinearSoftmaxModel:
    """Deterministic linear->softmax classifier closure for ``classify``.

    The accumulation order is pinned (left-to-right over features, then
    over classes in the log-sum-exp) so the float64 result is
    bit-identical to a SQL expression chain ``bias + w1*f1 + w2*f2 ...``
    — the property the DuckDB oracle (api_classify_probs) hashes
    against. Any object with ``classes`` and ``predict_proba`` works as
    a model; this one is the reference fixture (the reference's model
    zoo lives in R/api_ml_model.R — torch/ranger closures out of scope
    in this container, the closure protocol is the parity surface).
    """

    def __init__(
        self,
        classes: Sequence[str],
        weights: Sequence[Sequence[float]],
        bias: Sequence[float],
    ) -> None:
        self.classes = list(classes)
        self.weights = [list(w) for w in weights]
        self.bias = list(bias)

    def logits(self, X: np.ndarray) -> np.ndarray:
        cols = []
        for ci in range(len(self.classes)):
            acc = np.full(len(X), float(self.bias[ci]))
            for j, w in enumerate(self.weights[ci]):
                acc = acc + float(w) * X[:, j]
            cols.append(acc)
        return np.stack(cols, axis=1)

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        L = self.logits(X)
        m = L.max(axis=1, keepdims=True)
        s = np.zeros(len(X))
        for ci in range(L.shape[1]):
            s = s + np.exp(L[:, ci] - m[:, 0])
        return np.exp(L - m - np.log(s)[:, None])


def classify(
    df: DataFrame,
    model,
    feature_cols: Sequence[str],
    out_prefix: str = "p_",
    label_col: str | None = "predicted",
    batch_rows: int = 65_536,
) -> DataFrame:
    """Generic batch inference over a predictors-wide frame — the
    reference's headline verb (sits_classify,
    /root/reference/R/sits_classify.R:85; the per-block closure
    application is R/api_classify.R:145-150). ``model`` is any picklable
    object exposing ``classes`` and ``predict_proba(X: (n, f) float64)
    -> (n, k)``; it ships to executors inside the mapInPandas closure
    and scores Arrow batches — the Spark-native analog of the
    reference's chunked block inference, no per-row Python. Feature
    values must be non-null (fill upstream; the reference imputes in its
    predictor pipeline too). Adds one probability column per class and,
    when ``label_col`` is set, the argmax label (first class wins ties,
    matching which.max).

    Models exposing ``transform_classify`` (e.g. ``RandomForestModel``,
    whose forest lives in the JVM) route through their native plan
    instead of the Arrow seam — same output schema either way."""
    if hasattr(model, "transform_classify"):
        return model.transform_classify(
            df, feature_cols, out_prefix=out_prefix, label_col=label_col
        )
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    classes = list(model.classes)
    feature_cols = list(feature_cols)
    fields = list(df.schema.fields) + [
        StructField(f"{out_prefix}{c}", DoubleType()) for c in classes
    ]
    if label_col:
        fields.append(StructField(label_col, StringType()))
    schema = StructType(fields)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), batch_rows):
                part = pdf.iloc[lo : lo + batch_rows]
                X = part[feature_cols].to_numpy(dtype=np.float64)
                P = model.predict_proba(X)
                out = part.copy()
                for ci, c in enumerate(classes):
                    out[f"{out_prefix}{c}"] = np.round(P[:, ci], 6)
                if label_col:
                    out[label_col] = [classes[i] for i in np.argmax(P, axis=1)]
                yield out

    return df.mapInPandas(score, schema=schema)


def validate_kfold(
    df: DataFrame,
    k: int,
    key_cols: Sequence[str],
    fit: Callable[[pd.DataFrame], object],
    feature_cols: Sequence[str],
    label_col: str,
    salt: int = 0,
    sample_cap: int = 100_000,
) -> DataFrame:
    """k-fold cross-validation over a predictors frame (sits_kfold_validate,
    /root/reference/R/sits_validate.R): folds are assigned by a
    deterministic hash of the key columns (reproducible without a
    shuffle), each fold's model is fitted driver-side on the training
    split (predictor frames are sample-sized in the reference too, not
    cube-sized), then scored distributed via ``classify``. Returns one
    row per fold with accuracy.

    ``sample_cap`` bounds the driver collect: the per-fold fit pulls the
    training split through the driver, so a cube-sized frame would OOM
    it — like ``som_map``'s cap, we refuse rather than silently spill."""
    # pmod, not abs(hash) % k: hash can return INT_MIN, whose abs
    # overflows (negative fold / ANSI ARITHMETIC_OVERFLOW)
    hashed = F.hash(*[F.col(c) for c in key_cols], F.lit(salt))
    folded = df.withColumn("_fold", F.pmod(hashed, F.lit(k)).cast("int"))
    folded.persist()
    try:
        n_rows = folded.count()
        if n_rows > sample_cap:
            raise ValueError(
                f"validate_kfold fits driver-side; frame has {n_rows} rows"
                f" > sample_cap={sample_cap}. Sample the predictors frame"
                " first (api.sample / api.stratified_sample) or raise"
                " sample_cap explicitly."
            )
        results = []
        for fold in range(k):
            train = folded.where(F.col("_fold") != fold).toPandas()
            model = fit(train)
            scored = classify(
                folded.where(F.col("_fold") == fold),
                model,
                feature_cols,
                label_col="_pred",
            )
            agg = scored.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("_pred") == F.col(label_col)).cast("long")).alias("hits"),
            ).collect()[0]
            results.append((fold, agg["n"], agg["hits"]))
    finally:
        folded.unpersist()
    spark = df.sparkSession
    out = spark.createDataFrame(results, "fold int, n long, hits long")
    return out.withColumn(
        "accuracy", F.round(F.col("hits") / F.col("n"), 6)
    )


# ----------------------------------------------------------- predictors


def predictors(
    df: DataFrame,
    keys: Sequence[str],
    band_col: str,
    value_col: str,
    bands: Sequence[str],
    prefix: str = "",
) -> DataFrame:
    """Long -> wide ML-feature pivot (reference's predictors layout,
    R/api_predictors.R:38-42 pivot_wider): one row per key tuple, one
    column per band holding that band's exact mean.

    ``bands`` is REQUIRED and fixes the column order: without an explicit
    value list Spark's pivot runs an extra distinct job over the data and
    the column order becomes data-dependent — both wrong at scale. The
    mean sums exact decimals (order-insensitive) and divides once."""
    cell = F.round(
        F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double")
        / F.count(value_col),
        6,
    )
    wide = df.groupBy(*keys).pivot(band_col, list(bands)).agg(cell)
    if prefix:
        for b in bands:
            wide = wide.withColumnRenamed(str(b), f"{prefix}{b}")
    return wide


# ---------------------------------------------------------------- sample


def sample(df: DataFrame, frac: float, key_cols: Sequence[str], salt: int = 0) -> DataFrame:
    """Deterministic hash sample (reference's sits_sample,
    R/sits_sample_functions.R:27): keeps a row iff
    hash(key) mod 2^16 < frac * 2^16. Reproducible across runs/engines,
    no RNG state, embarrassingly parallel."""
    # pmod, not abs+%: abs(INT_MIN) overflows negative and would keep the
    # row regardless of frac (a ~2^-32 deterministic bias)
    h = F.pmod(F.hash(*[F.col(c) for c in key_cols], F.lit(salt)), F.lit(65536))
    return df.where(h < int(frac * 65536))


def stratified_sample(
    df: DataFrame, label_col: str, fractions: Mapping[str, float], key_cols: Sequence[str]
) -> DataFrame:
    """sits_stratified_sampling (R/api_tibble.R:278-291): per-label keep
    fractions, same deterministic hash gate as `sample` so results are
    engine-independent. Labels absent from ``fractions`` are dropped."""
    gate = F.lit(-1)
    for lbl, fr in fractions.items():
        gate = F.when(F.col(label_col) == lbl, F.lit(int(fr * 65536))).otherwise(gate)
    h = F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(65536))
    return df.where(h < gate)


def smote(
    df: DataFrame,
    label_col: str,
    feature_col: str,
    id_col: str,
    minority: object,
    n_per: int = 1,
    u: float = 0.5,
    max_minority: int = 100_000,
) -> DataFrame:
    """SMOTE minority oversampling (reference sits_smote,
    /root/reference/R/api_smote.R + R/sits_sample_functions.R):
    each minority sample is interpolated toward its nearest in-class
    neighbors, ``s = x + u * (y - x)``, producing ``n_per`` synthetic
    rows per sample (neighbor ranks 1..n_per by (L2 distance, id) — a
    total order, so results are deterministic; classic SMOTE draws the
    neighbor and u at random, this engine pins both for replayability).

    Scale design: the minority class is by definition small, so the
    neighbor search is a minority x minority self-join with the right
    side broadcast — never an all-pairs join over the full table.
    Returns the original frame plus synthetic rows flagged
    ``synthetic=true`` (synthetic ids are ``<base>~<rank>``).

    ``max_minority`` guards the O(m^2) self-join: the broadcast side
    must stay executor-memory-sized, so we refuse a "minority" class
    bigger than the cap instead of launching a quadratic join."""
    m = df.where(F.col(label_col) == minority).select(
        F.col(id_col).alias("_ida"), F.col(feature_col).alias("_va"),
        F.col(label_col).alias("_lbl"),
    )
    n_min = m.count()
    if n_min > max_minority:
        raise ValueError(
            f"smote minority class has {n_min} rows > max_minority="
            f"{max_minority}; the neighbor search is minority x minority"
            " — sample the class down or raise max_minority explicitly"
        )
    nbr = F.broadcast(
        m.select(F.col("_ida").alias("_idb"), F.col("_va").alias("_vb"))
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    va, vb = F.col("_va"), F.col("_vb")
    d2 = dot(va, va) - 2.0 * dot(va, vb) + dot(vb, vb)
    w = Window.partitionBy("_ida").orderBy(F.asc("_d2"), F.asc("_idb"))
    pairs = (
        m.join(nbr, F.col("_ida") != F.col("_idb"))
        .withColumn("_d2", d2)
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= n_per)
    )
    synth = pairs.select(
        F.concat_ws("~", F.col("_ida"), F.col("_rank")).alias(id_col),
        F.col("_lbl").alias(label_col),
        F.zip_with(
            va, vb,
            lambda x, y: x.cast("double")
            + F.lit(u) * (y.cast("double") - x.cast("double")),
        ).alias(feature_col),
        F.lit(True).alias("synthetic"),
    )
    base = df.select(
        F.col(id_col).cast("string").alias(id_col),
        label_col,
        F.col(feature_col).cast("array<double>").alias(feature_col),
        F.lit(False).alias("synthetic"),
    )
    return base.unionByName(synth)


# ---------------------------------------------------------------- som


def som_train(
    X: np.ndarray,
    grid: tuple[int, int] = (4, 4),
    epochs: int = 5,
) -> np.ndarray:
    """Deterministic batch-SOM training (reference Kohonen SOM,
    /root/reference/src/kohonen_som.cpp:1-834; entry R/api_som.R).

    Batch (not online) updates so the result is order-independent:
    each epoch assigns every sample to its BMU, then every neuron moves
    to the neighborhood-weighted mean with a Gaussian neighborhood whose
    radius decays from max(grid)/2 to 0.5. Init = first n_neurons rows
    (callers pass a deterministically ordered sample). Returns the
    (n_neurons, n_features) codebook."""
    gx, gy = grid
    n = gx * gy
    jj = np.arange(n)
    if len(X) < n:
        raise ValueError(
            f"som_train needs at least {n} samples to seed a "
            f"{gx}x{gy} grid, got {len(X)}; shrink the grid or raise "
            "the sample cap"
        )
    coords = np.stack([jj // gy, jj % gy], axis=1).astype(np.float64)
    grid_d2 = ((coords[:, None, :] - coords[None, :, :]) ** 2).sum(axis=2)
    W = X[:n].astype(np.float64).copy()
    r0, r1 = max(gx, gy) / 2.0, 0.5
    for e in range(epochs):
        sigma = r0 * (r1 / r0) ** (e / max(1, epochs - 1))
        d = (
            (X**2).sum(axis=1, keepdims=True)
            - 2.0 * X @ W.T
            + (W**2).sum(axis=1)[None, :]
        )
        bmu = np.argmin(d, axis=1)
        H = np.exp(-grid_d2[:, bmu] / (2.0 * sigma * sigma))  # (n, samples)
        denom = H.sum(axis=1)
        W = np.where(
            denom[:, None] > 0, (H @ X) / np.maximum(denom, 1e-300)[:, None], W
        )
    return W


def som_map(
    df: DataFrame,
    feature_col: str,
    id_col: str,
    label_col: str,
    grid: tuple[int, int] = (4, 4),
    epochs: int = 5,
    sample_cap: int = 10_000,
) -> DataFrame:
    """sits_som_map: train the SOM driver-side on a bounded
    deterministic sample (the reference trains on the sample tibble too
    — sample-sized, not cube-sized), then map EVERY row to its
    best-matching neuron distributed, via one Arrow-batched gemm per
    batch (no per-row Python). Adds ``neuron`` and ``qerr`` columns."""
    import pyarrow as pa

    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    sample = (
        df.select(id_col, feature_col)
        .orderBy(F.abs(F.hash(F.col(id_col))), F.col(id_col))
        .limit(sample_cap)
        .toPandas()
    )
    X = np.stack([np.asarray(v, dtype=np.float64) for v in sample[feature_col]])
    W = som_train(X, grid=grid, epochs=epochs)
    Wt = W.T.copy()
    ww = (W**2).sum(axis=1)

    schema = StructType(
        list(df.schema.fields)
        + [StructField("neuron", IntegerType()), StructField("qerr", DoubleType())]
    )

    def assign(batches):
        for batch in batches:
            emb = batch.column(feature_col)
            vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            E = vals.reshape(len(batch), -1)
            d = (E**2).sum(axis=1, keepdims=True) - 2.0 * E @ Wt + ww[None, :]
            bmu = np.argmin(d, axis=1)
            qerr = np.sqrt(np.maximum(d[np.arange(len(E)), bmu], 0.0))
            yield pa.RecordBatch.from_arrays(
                [
                    *batch.columns,
                    pa.array(bmu.astype(np.int32), type=pa.int32()),
                    pa.array(qerr, type=pa.float64()),
                ],
                names=[*batch.schema.names, "neuron", "qerr"],
            )

    return df.mapInArrow(assign, schema=schema)


def som_clean(
    mapped: DataFrame,
    label_col: str,
    clean_threshold: float = 0.6,
    analyze_threshold: float = 0.2,
) -> DataFrame:
    """sits_som_clean_samples (R/sits_som.R): grade each sample by the
    share of its own label within its neuron — ``clean`` above
    ``clean_threshold``, ``analyze`` between, ``remove`` below. One
    window pass over the mapped frame, no extra shuffle beyond the
    neuron grouping."""
    wn = Window.partitionBy("neuron")
    wnl = Window.partitionBy("neuron", label_col)
    share = (
        F.count(F.lit(1)).over(wnl).cast("double") / F.count(F.lit(1)).over(wn)
    )
    return mapped.withColumn("label_share", share).withColumn(
        "eval",
        F.when(F.col("label_share") >= clean_threshold, "clean")
        .when(F.col("label_share") >= analyze_threshold, "analyze")
        .otherwise("remove"),
    )


# --------------------------------------------------------- change detect


def _bayts_llr_fp(
    df: DataFrame, cols: Sequence[str], value: str, mu_stable: float,
    sd_stable: float, mu_changed: float, sd_changed: float,
    bwf: tuple[float, float],
) -> DataFrame:
    """``cols`` plus ``llr_fp``, the bayts log-odds of each row with a
    non-NULL ``value`` as a long in 1e-4 fixed point; rows with a NULL
    value are dropped. Shared by ``detect_change`` and
    ``streaming.detect_change_stream``."""
    v = F.col(value)

    def phi(mu: float, sd: float) -> Column:
        return F.exp(-((v - mu) ** 2) / (2.0 * sd * sd)) / (
            sd * F.sqrt(F.lit(2.0 * np.pi))
        )

    # each density is evaluated once per row as a named column
    dens = df.where(v.isNotNull()).select(
        *cols,
        value,
        phi(mu_changed, sd_changed).alias("_pc"),
        phi(mu_stable, sd_stable).alias("_ps"),
    )
    pc, ps = F.col("_pc"), F.col("_ps")
    # far outliers underflow BOTH densities to 0 (|z| > ~38): decide by
    # the nearer mean (squared z-score) instead of dividing 0/0, which
    # raises under ANSI mode. Inside the CASE, only those rows pay for it.
    zc = ((v - mu_changed) / sd_changed) ** 2
    zs = ((v - mu_stable) / sd_stable) ** 2
    p = F.when(pc + ps > 0, pc / (pc + ps)).otherwise(
        F.when(zc <= zs, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    # p to 6 dp and the log-odds to a 1e-4 step: grids 100x coarser than
    # the fixed-point step, so a ~1-ulp exp/ln difference between engines
    # cannot flip the integer comparison except on a doubly-degenerate
    # boundary. Spark's HALF_UP round on doubles equals DuckDB's round.
    p = F.round(F.greatest(F.least(p, F.lit(bwf[1])), F.lit(bwf[0])), 6)
    llr_fp = F.round(F.log(p / (F.lit(1.0) - p)) * 10_000, 0).cast("long")
    return dens.select(*cols, llr_fp.alias("llr_fp"))


def detect_change(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value: str,
    mu_stable: float,
    sd_stable: float,
    mu_changed: float,
    sd_changed: float,
    bwf: tuple[float, float] = (0.1, 0.9),
    tau: float = 2.0,
) -> DataFrame:
    """bayts sequential change detection (src/bayts_fns.cpp:44-164,
    R/sits_detect_change.R:41-177): per-observation conditional probability
    from the stable/changed Gaussians, clamped to ``bwf``, chained by
    Bayes' rule. The chain is a cumulative SUM in log-odds space, i.e. a
    running-window aggregation — no recursion, no Python.

    The chain is quantised: ``p`` is rounded to 6 dp and each log-odds is
    a long in 1e-4 fixed point, so the running sum is an integer compared
    with ``round(tau * 10_000)``. Rows with a NULL ``value`` are skipped,
    not counted as evidence. A far outlier whose two densities both
    underflow to 0 counts for the hypothesis with the smaller squared
    z-score. ``streaming.detect_change_stream`` projects the same per-row
    expression, so stream and batch agree exactly.

    Emits one row per flagged key: its first flagged ordering position
    (``first_<c>`` per ``order_by`` column) and ``max_cum_llr_fp``, the
    largest running sum among its flagged rows. Never-flagged keys are
    absent from the output."""
    llr = _bayts_llr_fp(
        df, [*keys, *order_by], value,
        mu_stable, sd_stable, mu_changed, sd_changed, bwf,
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = llr.select(
        *keys, *order_by, F.sum("llr_fp").over(w).alias("cum_llr_fp")
    ).where(F.col("cum_llr_fp") >= round(tau * 10_000))
    # lexicographic minimum in ONE struct so a multi-column ordering
    # reports an actual flagged row, not a per-column min mixture
    firsts = flagged.groupBy(*keys).agg(
        F.min(F.struct(*order_by)).alias("_first"),
        F.max("cum_llr_fp").alias("max_cum_llr_fp"),
    )
    return firsts.select(
        *keys,
        *[F.col(f"_first.{c}").alias(f"first_{c}") for c in order_by],
        "max_cum_llr_fp",
    )


def detect_change_dtw(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value: str,
    patterns: Mapping[str, Sequence[float]],
    window: int = 4,
    threshold: float = 60.0,
    round_dp: int | None = None,
) -> DataFrame:
    """DTW pattern-based change detection — the reference's second
    detect-change mode (src/dtw.cpp:73-105 symmetric-2 DTW;
    R/api_dtw.R:11-27 windowed search; R/sits_detect_change.R dispatch).

    Each key's series is cut into tumbling ``window``-length slices in
    ``order_by`` order; per slice, the DTW distance to every pattern (a
    tiny dict shipped in the UDF closure — never joined); a change fires
    when the best distance is <= ``threshold``. One sort shuffle + one
    Arrow-batched vectorized-DP UDF; incomplete trailing windows are
    dropped (no partial-window semantics). Rows with a NULL ``value`` are
    skipped before the series is numbered, so windows are cut over the
    observed values.

    Window rows are assembled with ``lead()`` over the same sorted window
    that numbers the series: lead(k) on the window-start row yields the
    window's values in order, and a NULL lead(W-1) marks the incomplete
    trailing slice."""
    from . import kernels

    w = Window.partitionBy(*keys).orderBy(*order_by)
    rn = F.row_number().over(w) - 1
    leads = [F.lead(value, k).over(w) for k in range(1, window)]
    win = df.where(F.col(value).isNotNull()).select(
        *keys,
        rn.alias("_rn"),
        F.array(F.col(value), *leads).alias("vals"),
    )
    arrs = win.where(
        (F.col("_rn") % window == 0) & F.col("vals")[window - 1].isNotNull()
    ).select(*keys, F.floor(F.col("_rn") / window).alias("win_id"), "vals")
    names = sorted(patterns)
    pats = {k: np.asarray(patterns[k], dtype=np.float64) for k in names}

    @F.pandas_udf("array<double>")
    def dtw_all(vals: pd.Series) -> pd.Series:
        wins = np.stack(vals.to_numpy())
        out = np.stack([kernels.dtw_windows(wins, pats[k]) for k in names], axis=1)
        return pd.Series(list(out))

    def _dcol(i):
        c = F.col("_ds")[i]
        return F.round(c, round_dp) if round_dp is not None else c

    d = arrs.select(*keys, "win_id", dtw_all("vals").alias("_ds")).select(
        *keys,
        "win_id",
        *[_dcol(i).alias(f"d_{n}") for i, n in enumerate(names)],
    )
    dcols = [F.col(f"d_{n}") for n in names]
    best_d = dcols[0] if len(dcols) == 1 else F.least(*dcols)
    best = F.lit(None)
    for name in reversed(names):
        best = F.when(F.col(f"d_{name}") == best_d, name).otherwise(best)
    return d.select(
        *keys,
        "win_id",
        *[f"d_{n}" for n in names],
        best.alias("best_pattern"),
        (best_d <= threshold).alias("is_change"),
    )
