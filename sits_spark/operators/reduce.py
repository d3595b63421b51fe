"""Temporal reduce operators as Catalyst-native column expressions.

The Spark re-expression of the reference's ``sits_reduce`` kernel family
(/root/reference/R/sits_reduce.R:104-203 dispatching to
/root/reference/src/reduce_fns.cpp) — every ``t_*`` statistic as a built-in
aggregate expression usable inside any groupBy (JVM-side, whole-stage
codegen; no Python in the hot path).

Determinism notes (these run against a DuckDB oracle hashed value-by-value):
- selection-based stats (min/max/median/quantiles) operate on unmodified
  input doubles -> bit-deterministic;
- accumulation-based stats (mean/std) are computed from EXACT decimal sums
  then divided in double, so shuffle order cannot perturb them;
- skew/kurt follow the reference's exact formulas
  (/root/reference/src/reduce_fns.cpp:37-60) via central-moment sums.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dec(col: Column, scale: int = 4) -> Column:
    """Exact fixed-point view of a value column for order-free summation.

    decimal(18,4): products stay within 38 digits on both Spark and DuckDB
    (no silent double fallback), and rescaled sums stay under 2^53 so the
    final decimal->double cast is a single well-defined rounding.

    INPUT-DOMAIN CONTRACT: values are quantized to 4 decimal places and
    must satisfy |v| < 1e14 — out-of-range values overflow to NULL with
    ANSI off and silently drop from the sum (unlike the reference's raw
    arma double accumulation). The driver tables' value bands (|v| < 1e4,
    2 dp) are well inside the contract."""
    return col.cast("decimal(18,4)")


def t_min(col: Column) -> Column:
    """reduce_fns.cpp:17-19."""
    return F.min(col)


def t_max(col: Column) -> Column:
    """reduce_fns.cpp:12-14."""
    return F.max(col)


def t_amplitude(col: Column) -> Column:
    """max - min (reduce_fns.cpp:63-65)."""
    return F.max(col) - F.min(col)


def t_mean(col: Column) -> Column:
    """Mean via exact decimal sum / count (reduce_fns.cpp:22-24)."""
    return (F.sum(_dec(col)).cast("double") / F.count(col)).alias("mean")


# index of each quartile in the t_quartiles buffer
Q25, MEDIAN, Q75 = 0, 1, 2


def t_quartiles(col: Column) -> Column:
    """Exact linear-interpolated q25/median/q75 as ONE aggregate: an
    array indexed by Q25/MEDIAN/Q75 (reduce_fns.cpp:27-29, 79-92; the
    IQR is [Q75] - [Q25]).

    DOCUMENTED DEVIATION: the reference's arma::quantile is the R type-5
    definition; this engine standardizes on type-7 (numpy/Spark/DuckDB
    default linear interpolation) on every path, so q25/q75/IQR can
    differ from upstream sits for the same data."""
    return F.percentile(col, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))


def t_std(col: Column) -> Column:
    """Sample stddev from exact decimal power sums
    (reduce_fns.cpp:32-34; arma norm_type 0 -> n-1 denominator)."""
    n = F.count(col).cast("double")
    s1 = F.sum(_dec(col)).cast("double")
    # decimal -> double via string: string parse is correctly rounded in
    # both Spark (Double.parseDouble) and DuckDB, so the conversion is
    # engine-independent even when the internal integer exceeds 2^53
    s2 = F.sum(_dec(col) * _dec(col)).cast("string").cast("double")
    return F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0)))


def t_skew(col: Column, mean_col: Column) -> Column:
    """Adjusted Fisher-Pearson skewness with the reference's literal
    adjustment factor sqrt(n(n-1))/n - 2 (reduce_fns.cpp:37-49).
    Requires the group mean joined back (two-pass).

    Determinism: the d^3 accumulation is a plain double sum, so raw
    output is shuffle-order sensitive at ~1e-12 relative; results are
    deterministic only after coarse rounding (callers round to 6 dp, as
    queries.ts_reduce_skew_kurt does). Do not hash unrounded output."""
    n = F.count(col).cast("double")
    d = col - mean_col
    m3 = F.sum(d * d * d) / n
    s = F.pow(F.sum(d * d) / n, F.lit(1.5))
    adj = F.sqrt(n * (n - F.lit(1.0))) / n - F.lit(2.0)
    return (m3 / s) * adj


def t_kurt(col: Column, mean_col: Column) -> Column:
    """Pearson kurtosis, normal -> 3.0 (reduce_fns.cpp:52-60).
    Same rounding-dependent determinism contract as t_skew."""
    n = F.count(col).cast("double")
    d = col - mean_col
    m4 = F.sum(d * d * d * d)
    m2 = F.pow(F.sum(d * d), F.lit(2.0))
    return n * m4 / m2


def t_fslope(col: Column, order_cols: list[Column], partition_cols: list[str]):
    """Max |first difference| along the series (reduce_fns.cpp:68-70).
    Returns (diff_col_builder) — apply lag in a window then aggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return F.abs(col - F.lag(col).over(w))
