"""Driver-checkable queries built ONLY from the user-facing verb facade.

queries.py proves each operator individually (its reduce, smooth,
segment, patterns, merge and select rows call the single verb); these
rows cover the verbs it has no row for and the `sits_spark.api`
composition surface — the path a user migrating from the reference
(sits_select |> sits_apply |> sits_reduce chains, R/sits_select.R +
R/sits_apply.R + R/sits_reduce.R) actually writes — against the same
DuckDB oracles. Because every verb is Catalyst-
declarative, a chained pipeline here still compiles to one optimized
plan (filter pushdown through apply/reduce, single shuffle per groupBy).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import api

_DEC = "decimal(18,4)"


def _r6(col):
    return F.round(col, 6).cast("double")


def _events(spark, sf_dir):
    return api.cube(spark, f"{sf_dir}/events.parquet")


def api_verbs_chain(spark, sf_dir):
    """select -> apply -> reduce chained through the facade: non-error
    events, derived band v2 = 2*value + 1 (exact in binary for the data's
    |v| < 1e4 domain), full unordered stat family per user."""
    e = _events(spark, sf_dir)
    sel = api.select(e, where="event_type <> 'error'")
    ap = api.apply(sel, v2="value * 2.0 + 1.0")
    red = api.reduce(
        ap, ["user_id"], "v2", ["count", "mean", "min", "max", "median", "iqr"]
    )
    return red.select(
        "user_id",
        F.col("count").alias("n_events"),
        _r6("mean").alias("v_mean"),
        F.col("min").alias("v_min"),
        F.col("max").alias("v_max"),
        _r6("median").alias("v_median"),
        _r6("iqr").alias("v_iqr"),
    )


SQL_API_VERBS_CHAIN = f"""
WITH t AS (
  SELECT user_id, value * 2.0 + 1.0 AS v2
  FROM events WHERE event_type <> 'error'
)
SELECT user_id,
       count(v2) AS n_events,
       CAST(round(CAST(sum(CAST(v2 AS {_DEC})) AS DOUBLE) / count(v2), 6) AS DOUBLE) AS v_mean,
       min(v2) AS v_min,
       max(v2) AS v_max,
       CAST(round(CAST(quantile_cont(v2, 0.5) AS DOUBLE), 6) AS DOUBLE) AS v_median,
       CAST(round(CAST(quantile_cont(v2, 0.75) AS DOUBLE) - CAST(quantile_cont(v2, 0.25) AS DOUBLE), 6) AS DOUBLE) AS v_iqr
FROM t GROUP BY user_id
"""


def api_variance_window(spark, sf_dir):
    """Facade variance verb (sits_variance, /root/reference/R/
    sits_variance.R): exact-decimal local sample variance over the same
    +-2 frame the bayes smoother weights by — (n*sum(x^2) - sum(x)^2) /
    (n*(n-1)) from decimal(18,4) sums, so Spark and DuckDB agree
    bit-for-bit."""
    e = _events(spark, sf_dir)
    v = api.variance(
        e,
        key="user_id",
        order_by=["ts", "event_id"],
        value="value",
        window=2,
        exact=True,
    )
    return v.select("event_id", "user_id", _r6("variance").alias("variance"))


SQL_API_VARIANCE_WINDOW = f"""
SELECT event_id, user_id,
  CAST(round(CASE WHEN n > 1 THEN
      CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)) END, 6) AS DOUBLE)
    AS variance
FROM (
  SELECT event_id, user_id,
         count(value) OVER w AS n,
         sum(CAST(value AS {_DEC})) OVER w AS s1,
         sum(CAST(value AS {_DEC}) * CAST(value AS {_DEC})) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
"""


def api_uncertainty_sampling(spark, sf_dir):
    """Facade active-learning pick (sits_uncertainty_sampling,
    /root/reference/R/sits_uncertainty.R:254): pseudo-uncertainty =
    fractional part of value (exact in binary for the 2-decimal data),
    non-maximum suppression over the +-5 frame per user series,
    threshold 0.5, deterministic global top-40."""
    e = _events(spark, sf_dir)
    u = e.withColumn("u", F.col("value") - F.floor(F.col("value")))
    out = api.uncertainty_sampling(
        u, "user_id", ["ts", "event_id"], "u",
        n=40, min_uncert=0.5, window=5,
    )
    return out.select("event_id", "user_id", F.col("u").alias("uncert"))


SQL_API_UNCERTAINTY_SAMPLING = """
SELECT event_id, user_id, u AS uncert
FROM (
  SELECT event_id, user_id, ts, u,
         max(u) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS wmax
  FROM (SELECT event_id, user_id, ts, value - floor(value) AS u FROM events)
)
WHERE u = wmax AND u >= 0.5
ORDER BY u DESC, user_id ASC, ts ASC, event_id ASC
LIMIT 40
"""


_SD_UA = {"click": 0.9, "view": 0.75, "purchase": 0.7, "signup": 0.6, "error": 0.5}


def api_sampling_design(spark, sf_dir):
    """Facade Cochran sampling design (sits_sampling_design,
    /root/reference/R/sits_sample_functions.R:312) over the events
    table: classes = event_type, per-class expected user accuracy
    literals, two allocation options + equal + proportional."""
    e = _events(spark, sf_dir)
    out = api.sampling_design(
        e, "event_type", expected_ua=_SD_UA, alloc_options=(100, 50),
        std_err=0.01, rare_class_prop=0.1,
    )
    return out.select(
        F.col("label"),
        _r6("prop").alias("prop"),
        _r6("expected_ua").alias("expected_ua"),
        _r6("std_dev").alias("std_dev"),
        "sample_size",
        "equal",
        "alloc_100",
        "alloc_50",
        "alloc_prop",
    )


def _sql_sampling_design() -> str:
    ua_case = "CASE " + " ".join(
        f"WHEN label = '{k}' THEN {v}" for k, v in _SD_UA.items()
    ) + " END"
    return f"""
WITH per AS (
  SELECT event_type AS label, CAST(count(*) AS DOUBLE) AS area
  FROM events GROUP BY 1
),
b AS (
  SELECT label, area / sum(area) OVER () AS prop, {ua_case} AS ua FROM per
),
s AS (
  SELECT label, prop, ua,
         round(sqrt(ua * (1.0 - ua)) / pow(10.0, floor(log10(sqrt(ua * (1.0 - ua)))) - 2))
           * pow(10.0, floor(log10(sqrt(ua * (1.0 - ua)))) - 2) AS sd
  FROM b
),
t AS (
  SELECT label, prop, ua, sd,
         CAST(round(pow(sum(prop * sd) OVER () / 0.01, 2.0)) AS BIGINT) AS sample_size,
         prop <= 0.1 AS is_rare,
         count(*) OVER () AS n_classes,
         CAST(sum(CASE WHEN prop <= 0.1 THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_rare,
         sum(CASE WHEN prop <= 0.1 THEN prop ELSE 0.0 END) OVER () AS rare_prop_sum
  FROM s
)
SELECT label,
       CAST(round(prop, 6) AS DOUBLE) AS prop,
       CAST(round(ua, 6) AS DOUBLE) AS expected_ua,
       CAST(round(sd, 6) AS DOUBLE) AS std_dev,
       sample_size,
       CAST(round(CAST(sample_size AS DOUBLE) / n_classes) AS BIGINT) AS equal,
       CASE WHEN is_rare THEN 100
            ELSE CAST(round(prop / (1.0 - rare_prop_sum) * (sample_size - 100 * n_rare)) AS BIGINT)
       END AS alloc_100,
       CASE WHEN is_rare THEN 50
            ELSE CAST(round(prop / (1.0 - rare_prop_sum) * (sample_size - 50 * n_rare)) AS BIGINT)
       END AS alloc_50,
       CAST(round(prop * sample_size) AS BIGINT) AS alloc_prop
FROM t
"""


SQL_API_SAMPLING_DESIGN = _sql_sampling_design()


def api_normalize_uncertainty(spark, sf_dir):
    """Facade normalize + softmax + label + margin-uncertainty per row:
    three synthetic logit bands from the value column, softmaxed and
    argmax-labelled (first-wins ties, matching the reference's which.max),
    margin = 1 - (p1 - p2) (src/uncertainty.cpp:7-25)."""
    e = _events(spark, sf_dir)
    ap = api.apply(
        e, a="value / 100.0", b="value / 200.0", c="1.0 - value / 100.0"
    )
    sm = api.softmax(ap, ["a", "b", "c"])
    lab = api.label_classification(sm, ["p_a", "p_b", "p_c"], out="label")
    unc = api.uncertainty(lab, ["p_a", "p_b", "p_c"], "margin", out="u")
    return unc.select(
        "event_id",
        _r6("p_a").alias("p_a"),
        _r6("p_b").alias("p_b"),
        _r6("p_c").alias("p_c"),
        "label",
        _r6("u").alias("u_margin"),
    )


SQL_API_NORMALIZE_UNCERTAINTY = """
WITH l AS (
  SELECT event_id, value / 100.0 AS a, value / 200.0 AS b, 1.0 - value / 100.0 AS c
  FROM events
),
sm AS (
  SELECT event_id,
         exp(a - mx) / d AS p_a, exp(b - mx) / d AS p_b, exp(c - mx) / d AS p_c
  FROM (
    SELECT event_id, a, b, c, greatest(a, b, c) AS mx,
           exp(a - greatest(a, b, c)) + exp(b - greatest(a, b, c)) + exp(c - greatest(a, b, c)) AS d
    FROM l
  )
)
SELECT event_id,
       CAST(round(p_a, 6) AS DOUBLE) AS p_a,
       CAST(round(p_b, 6) AS DOUBLE) AS p_b,
       CAST(round(p_c, 6) AS DOUBLE) AS p_c,
       CASE WHEN p_b > p_a OR p_c > p_a THEN (CASE WHEN p_c > p_b THEN 'p_c' ELSE 'p_b' END)
            ELSE 'p_a' END AS label,
       CAST(round(1.0 - (greatest(p_a, p_b, p_c)
            - CASE WHEN p_a >= p_b AND p_a >= p_c THEN greatest(p_b, p_c)
                   WHEN p_b >= p_c THEN greatest(p_a, p_c)
                   ELSE greatest(p_a, p_b) END), 6) AS DOUBLE) AS u_margin
FROM sm
"""


def api_reclassify_predictors(spark, sf_dir):
    """reclassify (CASE-cascade label remap, R/sits_reclassify.R) chained
    into the predictors wide pivot (R/api_predictors.R:38-42): engagement
    classes from event types, then one exact-mean column per class per
    user — the long->wide ML feature layout with a FIXED column order."""
    e = _events(spark, sf_dir)
    rc = api.reclassify(
        e,
        "event_type",
        {"click": "engage", "view": "engage", "purchase": "convert"},
        out_col="cls",
    )
    return api.predictors(
        rc, ["user_id"], "cls", "value", ["engage", "convert", "signup", "error"],
        prefix="m_",
    )


SQL_API_RECLASSIFY_PREDICTORS = f"""
WITH rc AS (
  SELECT user_id,
         CASE WHEN event_type = 'click' THEN 'engage'
              WHEN event_type = 'view' THEN 'engage'
              WHEN event_type = 'purchase' THEN 'convert'
              ELSE event_type END AS cls,
         value
  FROM events
)
SELECT user_id,
  CAST(round(CAST(sum(CASE WHEN cls = 'engage' THEN CAST(value AS {_DEC}) END) AS DOUBLE)
       / count(CASE WHEN cls = 'engage' THEN value END), 6) AS DOUBLE) AS m_engage,
  CAST(round(CAST(sum(CASE WHEN cls = 'convert' THEN CAST(value AS {_DEC}) END) AS DOUBLE)
       / count(CASE WHEN cls = 'convert' THEN value END), 6) AS DOUBLE) AS m_convert,
  CAST(round(CAST(sum(CASE WHEN cls = 'signup' THEN CAST(value AS {_DEC}) END) AS DOUBLE)
       / count(CASE WHEN cls = 'signup' THEN value END), 6) AS DOUBLE) AS m_signup,
  CAST(round(CAST(sum(CASE WHEN cls = 'error' THEN CAST(value AS {_DEC}) END) AS DOUBLE)
       / count(CASE WHEN cls = 'error' THEN value END), 6) AS DOUBLE) AS m_error
FROM rc GROUP BY user_id
"""


def api_clean_modal(spark, sf_dir):
    """clean (sits_clean modal filter, R/sits_clean.R): each event's type
    replaced by the ±2-neighborhood modal type along the user's series."""
    e = _events(spark, sf_dir)
    cleaned = api.clean(
        e, ["user_id"], ["ts", "event_id"], "event_type", radius=2,
        out_col="cleaned_type",
    )
    return cleaned.select("event_id", "user_id", "event_type", "cleaned_type")


SQL_API_CLEAN_MODAL = """
SELECT event_id, user_id, event_type,
       list_min(list_filter(warr, x ->
         len(list_filter(warr, y -> y = x)) =
         list_max(list_transform(warr, x -> len(list_filter(warr, y -> y = x)))))) AS cleaned_type
FROM (
  SELECT event_id, user_id, event_type, list(event_type) OVER w AS warr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
"""


def api_accuracy_kappa(spark, sf_dir):
    """accuracy (sits_accuracy, R/sits_accuracy.R): confusion of each
    user's event_type against the PREVIOUS event_type in the series (a
    deterministic self-derived prediction), per-class user/producer
    accuracy + overall + Cohen's kappa."""
    from pyspark.sql import Window as W

    e = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lab = e.select(
        F.col("event_type").alias("ref_t"),
        F.lag("event_type").over(w).alias("pred_t"),
    ).where(F.col("pred_t").isNotNull())
    return api.accuracy(lab, "ref_t", "pred_t")


SQL_API_ACCURACY_KAPPA = """
WITH lab AS (
  SELECT event_type AS ref,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pred
  FROM events
), lab2 AS (SELECT * FROM lab WHERE pred IS NOT NULL),
cm AS (SELECT ref, pred, count(*) AS n FROM lab2 GROUP BY 1, 2),
tot AS (
  SELECT sum(n) AS n_total,
         sum(CASE WHEN ref = pred THEN n ELSE 0 END) AS n_diag
  FROM cm
),
refs AS (SELECT ref, CAST(sum(n) AS BIGINT) AS n_ref FROM cm GROUP BY 1),
preds AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1),
diag AS (SELECT ref AS cls_d, n AS n_correct FROM cm WHERE ref = pred),
per AS (
  SELECT coalesce(refs.ref, preds.cls) AS cls,
         coalesce(n_ref, 0) AS n_ref,
         coalesce(n_pred, 0) AS n_pred,
         coalesce(n_correct, 0) AS n_correct
  FROM refs FULL JOIN preds ON refs.ref = preds.cls
  LEFT JOIN diag ON coalesce(refs.ref, preds.cls) = diag.cls_d
),
pe AS (SELECT sum(CAST(n_ref AS DOUBLE) * n_pred) AS pe_num FROM per)
SELECT cls, n_ref, n_pred, n_correct,
       CAST(round(CAST(n_correct AS DOUBLE) / NULLIF(n_pred, 0), 6) AS DOUBLE) AS user_acc,
       CAST(round(CAST(n_correct AS DOUBLE) / NULLIF(n_ref, 0), 6) AS DOUBLE) AS prod_acc,
       CAST(round(CAST(n_diag AS DOUBLE) / n_total, 6) AS DOUBLE) AS overall_acc,
       CAST(round((CAST(n_diag AS DOUBLE) / n_total - pe_num / (CAST(n_total AS DOUBLE) * n_total))
            / NULLIF(1.0 - pe_num / (CAST(n_total AS DOUBLE) * n_total), 0), 6) AS DOUBLE) AS kappa
FROM per, tot, pe
"""


_CLS_TYPES = ["click", "view", "purchase", "signup", "error"]
_CLS_CLASSES = ["low", "mid", "high"]
# binary-exact literals (multiples of 1/64): the float chain is then
# bit-identical between the numpy closure and the SQL expression
_CLS_W = [
    [0.5, -0.25, 0.125, 0.0625, -0.5],
    [-0.125, 0.375, -0.0625, 0.25, 0.125],
    [0.25, 0.0625, 0.5, -0.375, 0.25],
]
_CLS_B = [0.125, -0.0625, 0.03125]


def api_classify_probs(spark, sf_dir):
    """predictors -> classify: the reference's headline path
    (sits_classify, R/sits_classify.R:85; per-block closure application
    R/api_classify.R:145-150). Per-user mean value per event type as the
    wide feature frame, scored by a fixed linear-softmax model closure
    via mapInPandas; probabilities + argmax label, hash-checked against
    the closed-form SQL scoring of the same weights."""
    e = _events(spark, sf_dir)
    feats = [f"f_{t}" for t in _CLS_TYPES]
    wide = api.predictors(
        e, ["user_id"], "event_type", "value", _CLS_TYPES, prefix="f_"
    ).fillna(0.0, subset=feats)
    model = api.LinearSoftmaxModel(_CLS_CLASSES, _CLS_W, _CLS_B)
    scored = api.classify(wide, model, feats)
    return scored.select(
        "user_id", "p_low", "p_mid", "p_high", "predicted"
    )


def _sql_classify() -> str:
    mean_cells = ",\n  ".join(
        f"coalesce(CAST(round(CAST(sum(CASE WHEN event_type = '{t}' THEN CAST(value AS {_DEC}) END) AS DOUBLE)"
        f" / count(CASE WHEN event_type = '{t}' THEN value END), 6) AS DOUBLE), 0.0) AS f_{t}"
        for t in _CLS_TYPES
    )
    logits = ",\n  ".join(
        f"{_CLS_B[ci]!r} + "
        + " + ".join(
            f"{_CLS_W[ci][j]!r} * f_{t}" for j, t in enumerate(_CLS_TYPES)
        )
        + f" AS l_{c}"
        for ci, c in enumerate(_CLS_CLASSES)
    )
    lse = " + ".join(f"exp(l_{c} - m)" for c in _CLS_CLASSES)
    probs = ",\n  ".join(
        f"CAST(round(exp(l_{c} - m - ln({lse})), 6) AS DOUBLE) AS p_{c}"
        for c in _CLS_CLASSES
    )
    return f"""
WITH feat AS (
  SELECT user_id,
  {mean_cells}
  FROM events GROUP BY user_id
),
lg AS (
  SELECT user_id,
  {logits}
  FROM feat
),
lm AS (SELECT *, greatest(l_low, l_mid, l_high) AS m FROM lg)
SELECT user_id,
  {probs},
  CASE WHEN l_low >= l_mid AND l_low >= l_high THEN 'low'
       WHEN l_mid >= l_high THEN 'mid'
       ELSE 'high' END AS predicted
FROM lm
"""


SQL_API_CLASSIFY_PROBS = _sql_classify()


def api_rf_classify(spark, sf_dir):
    """predictors -> RandomForestModel.fit -> classify: the reference's
    DEFAULT model path (sits_rfor, /root/reference/R/
    sits_machine_learning.R:45; applied via sits_classify,
    R/api_classify.R:145-150). Same wide feature frame as
    api_classify_probs; the label used for training is the linear
    model's argmax (a deterministic function of the data), the forest is
    seeded, and scoring runs JVM-side through the classify seam
    (VectorAssembler -> forest -> vector_to_array — no Python).
    Tree-ensemble probabilities are not SQL-replayable, so this row is
    rows-only at the driver; exactness of the seam itself is pinned by
    tests/test_ml.py."""
    e = _events(spark, sf_dir)
    feats = [f"f_{t}" for t in _CLS_TYPES]
    wide = api.predictors(
        e, ["user_id"], "event_type", "value", _CLS_TYPES, prefix="f_"
    ).fillna(0.0, subset=feats)
    lin = api.LinearSoftmaxModel(_CLS_CLASSES, _CLS_W, _CLS_B)
    labeled = api.classify(wide, lin, feats, label_col="label").select(
        "user_id", *feats, "label"
    )
    labeled.persist()
    try:
        rf = api.RandomForestModel.fit(
            labeled, feats, "label", num_trees=25, max_depth=5, seed=42
        )
        scored = api.classify(labeled, rf, feats)
    finally:
        labeled.unpersist()
    # stable schema across sf levels: the forest's class vocabulary is
    # whatever labels the linear model produced on THIS data; emit a
    # p_ column for every declared class, 0.0 where the class is absent
    present = set(rf.classes)
    return scored.select(
        "user_id",
        *[
            (F.col(f"p_{c}") if c in present else F.lit(0.0)).alias(f"p_{c}")
            for c in sorted(_CLS_CLASSES)
        ],
        "predicted",
    )


FACADE_REGISTRY: dict[str, tuple] = {
    "api_classify_probs": (api_classify_probs, SQL_API_CLASSIFY_PROBS),
    "api_accuracy_kappa": (api_accuracy_kappa, SQL_API_ACCURACY_KAPPA),
    "api_clean_modal": (api_clean_modal, SQL_API_CLEAN_MODAL),
    "api_verbs_chain": (api_verbs_chain, SQL_API_VERBS_CHAIN),
    "api_reclassify_predictors": (
        api_reclassify_predictors,
        SQL_API_RECLASSIFY_PREDICTORS,
    ),
    "api_normalize_uncertainty": (
        api_normalize_uncertainty,
        SQL_API_NORMALIZE_UNCERTAINTY,
    ),
    "api_variance_window": (api_variance_window, SQL_API_VARIANCE_WINDOW),
    # past the 50-entry verified window of queries() (selfcheck-verified)
    "api_uncertainty_sampling": (
        api_uncertainty_sampling,
        SQL_API_UNCERTAINTY_SAMPLING,
    ),
    "api_sampling_design": (api_sampling_design, SQL_API_SAMPLING_DESIGN),
    # rows-only: tree-ensemble probabilities have no SQL oracle
    "api_rf_classify": (api_rf_classify, None),
}
