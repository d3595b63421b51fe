"""User-facing API facade tests: each verb checked against an independent
implementation (numpy kernel ground truth or a hand-built expectation)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sits_spark import api
from sits_spark.kernels import smooth_sg_mtx, smooth_whit_mtx


@pytest.fixture(scope="module")
def series_df(spark):
    # 3 conversations with distinct lengths (one shorter than the SG window)
    rows = []
    rng = np.random.RandomState(7)
    for cid, n in (("c1", 40), ("c2", 9), ("c3", 3)):
        vals = np.round(rng.randn(n) * 10 + 50, 4)
        for i, v in enumerate(vals):
            rows.append((cid, i, float(v), "user" if i % 2 else "assistant"))
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, value double, role string")


def _per_conv(df):
    out = {}
    for r in df.orderBy("conv_id", "turn_idx").collect():
        out.setdefault(r.conv_id, []).append(r)
    return out


def test_select_interval_and_columns(series_df):
    got = api.select(
        series_df, columns=["conv_id", "turn_idx"], start=5, end=20,
        ts_col="turn_idx", where="conv_id <> 'c3'",
    )
    assert got.columns == ["conv_id", "turn_idx"]
    rows = got.collect()
    assert all(5 <= r.turn_idx < 20 and r.conv_id != "c3" for r in rows)
    assert len(rows) == 15 + 4  # c1 full interval, c2 has turns 5..8


def test_apply_expr_capture(series_df):
    got = api.apply(series_df, doubled="value * 2", flag=F.col("turn_idx") > 5)
    r = got.where("conv_id = 'c1' and turn_idx = 7").first()
    assert r.doubled == pytest.approx(2 * r.value) and r.flag is True


def test_reduce_matches_numpy(series_df):
    got = {
        r.conv_id: r
        for r in api.reduce(
            series_df, ["conv_id"], "value",
            ["mean", "std", "min", "max", "median", "iqr", "skew", "kurt", "count", "fslope",
             "q25", "q75", "amplitude"],
            order_by=["turn_idx"],
        ).collect()
    }
    pdf = _per_conv(series_df)
    for cid, rows in pdf.items():
        v = np.array([r.value for r in rows])
        assert got[cid]["mean"] == pytest.approx(v.mean(), abs=1e-4)
        assert got[cid]["std"] == pytest.approx(v.std(ddof=1), abs=1e-3)
        assert got[cid]["min"] == v.min() and got[cid]["max"] == v.max()
        assert got[cid]["median"] == pytest.approx(np.median(v))
        q25, q75 = np.percentile(v, [25, 75], method="linear")
        assert got[cid]["q25"] == pytest.approx(q25)
        assert got[cid]["q75"] == pytest.approx(q75)
        assert got[cid]["iqr"] == pytest.approx(q75 - q25)
        assert got[cid]["amplitude"] == pytest.approx(np.ptp(v))
        assert got[cid]["count"] == len(v)
        assert got[cid]["fslope"] == pytest.approx(np.abs(np.diff(v)).max())
        n, d = len(v), v - v.mean()
        skew = (d**3).mean() / ((d**2).mean()) ** 1.5 * (math.sqrt(n * (n - 1)) / n - 2.0)
        kurt = n * (d**4).sum() / ((d**2).sum()) ** 2
        assert got[cid]["skew"] == pytest.approx(skew, rel=1e-9)
        assert got[cid]["kurt"] == pytest.approx(kurt, rel=1e-9)


def test_reduce_skips_null_values(spark):
    """A NULL value is not an observation: count counts non-NULL values
    and every other metric is computed over the rest of the series."""
    df = spark.createDataFrame(
        [("c", 0, 1.0), ("c", 1, None), ("c", 2, 3.0), ("c", 3, 8.0)],
        "conv_id string, turn_idx int, value double",
    )
    r = api.reduce(
        df, ["conv_id"], "value", ["count", "mean", "min", "max", "median", "q25", "iqr"]
    ).first()
    assert r["count"] == 3
    assert r["mean"] == 4.0
    assert (r["min"], r["max"]) == (1.0, 8.0)
    assert r["median"] == 3.0
    assert r["q25"] == 2.0 and r["iqr"] == 3.5


def test_merge_strategies(spark):
    a = spark.createDataFrame([("c", 1, 10.0), ("c", 2, 20.0)], "conv_id string, ts int, v double")
    b = spark.createDataFrame([("c", 2, 2.0), ("c", 3, 3.0)], "conv_id string, ts int, v double")
    assert api.merge(a, b, "bind").count() == 4
    dens = api.merge(a, b, "densify", keys=("conv_id", "ts")).orderBy("ts").collect()
    assert [r.ts for r in dens] == [1, 2, 3]
    assert dens[0].v_b is None and dens[2].v_a is None
    comp = api.merge(a, b, "compactify", keys=("conv_id", "ts")).collect()
    assert len(comp) == 1 and comp[0].ts == 2


@pytest.mark.parametrize("method", ["sg", "whittaker"])
def test_smooth_matches_kernels(series_df, method):
    got = _per_conv(api.smooth(series_df, key="conv_id", order_by="turn_idx",
                               value="value", method=method, partitions=4))
    raw = _per_conv(series_df)
    for cid, rows in raw.items():
        v = np.array([r.value for r in rows])[None, :]
        exp = smooth_sg_mtx(v) if method == "sg" else smooth_whit_mtx(v)
        np.testing.assert_array_equal(
            np.array([r.smoothed for r in got[cid]]), exp[0],
            err_msg=f"{method} mismatch for {cid}",
        )


def test_smooth_bayes_pure_catalyst(series_df):
    got = api.smooth(series_df, key="conv_id", order_by="turn_idx",
                     value="value", method="bayes", window=2, smoothness=0.75)
    rows = _per_conv(got)["c1"]
    v = np.array([r.value for r in rows])
    # center point 5: window 3..7
    seg = v[3:8]
    m0, s0 = seg.mean(), seg.var(ddof=1)
    w = s0 / (s0 + 0.75)
    assert rows[5].smoothed == pytest.approx(w * v[5] + (1 - w) * m0)
    assert "mapInArrow" not in got._jdf.queryExecution().executedPlan().toString()


def test_softmax_label_uncertainty(spark):
    df = spark.createDataFrame([(1, 1.0, 2.0, 0.5)], "id int, a double, b double, c double")
    sm = api.softmax(df, ["a", "b", "c"]).first()
    z = np.array([1.0, 2.0, 0.5])
    exp = np.exp(z - z.max()) / np.exp(z - z.max()).sum()
    assert [sm.p_a, sm.p_b, sm.p_c] == pytest.approx(list(exp))
    lab = api.label_classification(
        api.softmax(df, ["a", "b", "c"]), ["p_a", "p_b", "p_c"]).first()
    assert lab.label == "p_b"
    p = exp
    ud = api.softmax(df, ["a", "b", "c"])
    ent = api.uncertainty(ud, ["p_a", "p_b", "p_c"], "entropy").first().uncert
    assert ent == pytest.approx(float(-(p * np.log(p)).sum() / np.log(3)))
    mar = api.uncertainty(ud, ["p_a", "p_b", "p_c"], "margin").first().uncert
    sp = np.sort(p)
    assert mar == pytest.approx(1.0 - (sp[-1] - sp[-2]))
    lst = api.uncertainty(ud, ["p_a", "p_b", "p_c"], "least").first().uncert
    assert lst == pytest.approx(1.0 - p.max())


def test_normalize_clamps(spark):
    df = spark.createDataFrame([(0, -5.0), (1, 5.0), (2, 25.0)], "id int, v double")
    got = {r.id: r.v_norm for r in api.normalize(df, ["v"], 0.0, 10.0).collect()}
    assert got == {0: 0.0, 1: 0.5, 2: 1.0}


def test_sampling_deterministic_and_stratified(series_df):
    s1 = api.sample(series_df, 0.5, ["conv_id", "turn_idx"]).collect()
    s2 = api.sample(series_df, 0.5, ["conv_id", "turn_idx"]).collect()
    assert sorted(map(str, s1)) == sorted(map(str, s2)) and 0 < len(s1) < 52
    st = api.stratified_sample(series_df, "role", {"user": 1.0}, ["conv_id", "turn_idx"])
    assert st.where("role <> 'user'").count() == 0
    assert st.count() == series_df.where("role = 'user'").count()


def test_detect_change_first_flag(spark):
    # stable regime ~0, then a jump to ~5 -> log-odds accumulate past tau.
    # With bwf clamps (0.1, 0.9) each obs contributes exactly +-ln(9): two
    # stable obs put cum at -2ln9; the 5th changed obs reaches +3ln9 > tau
    # only after cancelling them -> first flag at ts=4 (+ln9 > 2.0).
    rows = [("k", i, 0.0 if i < 2 else 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "key string, ts int, v double")
    got = api.detect_change(
        df, ["key"], ["ts"], "v",
        mu_stable=0.0, sd_stable=1.0, mu_changed=5.0, sd_changed=1.0, tau=2.0,
    ).collect()
    assert len(got) == 1 and got[0].first_ts == 4
    assert got[0].max_cum_llr_fp == 6 * 21972  # +-ln(9) is +-21972 in 1e-4
    # NULL values are skipped, not evidence: after two stable obs and four
    # NULLs the changed run cancels them at ts 6, 7 and flags at ts 8
    nulls = [("k", i, 0.0 if i < 2 else None if i < 6 else 5.0) for i in range(12)]
    got = api.detect_change(
        spark.createDataFrame(nulls, "key string, ts int, v double"),
        ["key"], ["ts"], "v", 0.0, 1.0, 5.0, 1.0, tau=2.0,
    ).collect()
    assert len(got) == 1 and got[0].first_ts == 8
    # never-flagged series emits nothing
    calm = spark.createDataFrame([("k", i, 0.0) for i in range(10)], "key string, ts int, v double")
    assert api.detect_change(
        calm, ["key"], ["ts"], "v", 0.0, 1.0, 5.0, 1.0, tau=2.0).count() == 0


def test_reclassify_cascade(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "cls string"
    )
    got = {
        r.cls for r in api.reclassify(df, "cls", {"a": "x", "b": "x"}).collect()
    }
    assert got == {"x", "c"}
    dflt = api.reclassify(df, "cls", {"a": "x"}, default="other", out_col="c2")
    assert {r.c2 for r in dflt.collect()} == {"x", "other"}


def test_predictors_pivot_order_and_values(spark):
    df = spark.createDataFrame(
        [("u1", "b1", 1.0), ("u1", "b1", 3.0), ("u1", "b2", 5.0), ("u2", "b2", 7.0)],
        "k string, band string, v double",
    )
    wide = api.predictors(df, ["k"], "band", "v", ["b2", "b1"], prefix="m_")
    assert wide.columns == ["k", "m_b2", "m_b1"]
    rows = {r.k: (r.m_b2, r.m_b1) for r in wide.collect()}
    assert rows["u1"] == (5.0, 2.0)
    assert rows["u2"][0] == 7.0 and rows["u2"][1] is None


def test_detect_change_dtw(spark):
    # series that IS the pattern in its second window -> distance 0 there
    vals = [9.0, 9.0, 9.0, 9.0, 1.0, 2.0, 3.0, 4.0]
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, ts int, v double")
    got = api.detect_change_dtw(
        df, ["key"], ["ts"], "v",
        {"exact": [1.0, 2.0, 3.0, 4.0], "far": [100.0, 100.0, 100.0]},
        window=4, threshold=5.0,
    ).orderBy("win_id").collect()
    assert len(got) == 2
    assert got[1].d_exact == 0.0
    assert got[1].best_pattern == "exact" and bool(got[1].is_change)
    assert got[0].best_pattern == "exact" and not bool(got[0].is_change)
    # incomplete trailing window is dropped
    df2 = spark.createDataFrame(rows + [("k", 8, 0.0)], "key string, ts int, v double")
    assert api.detect_change_dtw(
        df2, ["key"], ["ts"], "v", {"p": [1.0, 2.0]}, window=4
    ).count() == 2
    # a NULL value is skipped: the windows are cut over the observed
    # values, so the NULL shifts them and drops none; the trailing 0.0
    # is still an incomplete window
    with_null = vals[:2] + [None] + vals[2:] + [0.0]
    df3 = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(with_null)], "key string, ts int, v double"
    )
    got = api.detect_change_dtw(
        df3, ["key"], ["ts"], "v", {"exact": [1.0, 2.0, 3.0, 4.0]},
        window=4, threshold=5.0,
    ).orderBy("win_id").collect()
    assert [r.win_id for r in got] == [0, 1] and got[1].d_exact == 0.0


def test_clean_modal_filter(spark):
    # salt-and-pepper 'b' inside a run of 'a' gets voted out; ties break
    # to the lexicographically smallest label
    rows = [("k", i, lbl) for i, lbl in enumerate(["a", "a", "b", "a", "a", "c", "c"])]
    df = spark.createDataFrame(rows, "key string, ts int, lbl string")
    got = [
        r.lbl
        for r in api.clean(df, ["key"], ["ts"], "lbl", radius=2)
        .orderBy("ts")
        .collect()
    ]
    assert got[2] == "a"          # noise removed
    assert got[0] == "a" and got[6] == "c"
    # tie at index 4: window = [b,a,a,c,c] -> counts a=2,c=2 -> 'a' wins
    assert got[4] == "a"


def test_accuracy_kappa_known_matrix(spark):
    # hand-computed confusion: ref a,a,a,b / pred a,a,b,b
    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b")]
    df = spark.createDataFrame(rows, "ref string, pred string")
    got = {r.cls: r for r in api.accuracy(df, "ref", "pred").collect()}
    # po = 3/4; pe = (3*2 + 1*2)/16 = 0.5; kappa = (0.75-0.5)/0.5 = 0.5
    assert got["a"].n_ref == 3 and got["a"].n_pred == 2 and got["a"].n_correct == 2
    assert got["a"].user_acc == 1.0 and round(got["a"].prod_acc, 6) == 0.666667
    assert got["b"].user_acc == 0.5 and got["b"].prod_acc == 1.0
    assert got["a"].overall_acc == 0.75 and got["a"].kappa == 0.5
    # class only in ref (never predicted): null user_acc, zero correct
    rows2 = rows + [("c", "a")]
    got2 = {r.cls: r for r in api.accuracy(
        spark.createDataFrame(rows2, "ref string, pred string"), "ref", "pred"
    ).collect()}
    assert got2["c"].n_pred == 0 and got2["c"].n_correct == 0
    assert got2["c"].user_acc is None


def test_classify_matches_numpy(spark):
    """classify (sits_classify analog) vs a direct numpy scoring of the
    same model on the same feature matrix."""
    rng = np.random.RandomState(11)
    X = np.round(rng.randn(40, 3), 4)
    rows = [(i, float(a), float(b), float(c)) for i, (a, b, c) in enumerate(X)]
    df = spark.createDataFrame(rows, "id int, f1 double, f2 double, f3 double")
    model = api.LinearSoftmaxModel(
        ["x", "y"], [[0.5, -0.25, 0.125], [-0.125, 0.375, 0.0625]], [0.25, -0.5]
    )
    got = (
        api.classify(df, model, ["f1", "f2", "f3"])
        .orderBy("id")
        .toPandas()
    )
    P = model.predict_proba(X)
    assert np.array_equal(got[["p_x", "p_y"]].to_numpy(), np.round(P, 6))
    want_lbl = [["x", "y"][i] for i in np.argmax(P, axis=1)]
    assert got["predicted"].tolist() == want_lbl
    # probabilities sum to ~1 and schema keeps every input column
    assert np.allclose(P.sum(axis=1), 1.0)
    assert got.columns.tolist() == ["id", "f1", "f2", "f3", "p_x", "p_y", "predicted"]


def test_validate_kfold_separable(spark):
    """k-fold validation on a linearly separable frame: every fold's
    accuracy is 1.0 with a fixed (pre-solved) model and folds cover
    every row exactly once."""
    rows = [(i, 1.0 if i % 2 else -1.0, "pos" if i % 2 else "neg") for i in range(30)]
    df = spark.createDataFrame(rows, "id int, f double, label string")

    def fit(_train_pdf):
        return api.LinearSoftmaxModel(["neg", "pos"], [[-2.0], [2.0]], [0.0, 0.0])

    got = api.validate_kfold(
        df, 3, ["id"], fit, ["f"], "label"
    ).orderBy("fold").collect()
    assert [r.fold for r in got] == [0, 1, 2]
    assert sum(r.n for r in got) == 30
    assert all(r.accuracy == 1.0 for r in got)


def test_smote_interpolates_midpoint(spark):
    """Synthetic rows sit exactly at u of the way to the chosen neighbor,
    neighbors are the true nearest by (L2, id), originals unchanged."""
    rows = [
        (1, "m", [0.0, 0.0]),
        (2, "m", [1.0, 0.0]),
        (3, "m", [0.0, 4.0]),
        (4, "M", [9.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "id int, lbl string, v array<double>")
    got = api.smote(df, "lbl", "v", "id", minority="m", n_per=1, u=0.5)
    pdf = got.toPandas()
    assert len(pdf) == 4 + 3
    syn = {r.id: list(r.v) for r in got.where("synthetic").collect()}
    # 1's nearest is 2 ([1,0]); 2's nearest is 1; 3's nearest is 1
    assert syn["1~1"] == [0.5, 0.0]
    assert syn["2~1"] == [0.5, 0.0]
    assert syn["3~1"] == [0.0, 2.0]
    assert all(r.lbl == "m" for r in got.where("synthetic").collect())
    # majority class never synthesized, originals intact
    assert set(pdf[~pdf.synthetic]["id"]) == {"1", "2", "3", "4"}


def test_som_map_separates_clusters(spark):
    """Three well-separated clusters: distributed mapping equals the
    numpy argmin, each cluster lands on one neuron, purity grading via
    som_clean is 'clean' everywhere."""
    rng = np.random.RandomState(3)
    rows = []
    for ci, (cx, lbl) in enumerate([(0.0, "a"), (10.0, "b"), (20.0, "c")]):
        for i in range(30):
            v = [float(cx + rng.rand() * 0.1), float(rng.rand() * 0.1)]
            rows.append((ci * 100 + i, lbl, v))
    df = spark.createDataFrame(rows, "id int, lbl string, v array<double>")
    mapped = api.som_map(df, "v", "id", "lbl", grid=(2, 2), epochs=5)
    pdf = mapped.toPandas()
    # every NEURON is label-pure (a cluster may legitimately span two
    # adjacent neurons, but no neuron mixes clusters), labels use
    # disjoint neuron sets, and quantization error stays within-cluster
    per_neuron = pdf.groupby("neuron")["lbl"].nunique()
    assert (per_neuron == 1).all(), pdf.groupby("neuron")["lbl"].unique()
    sets = pdf.groupby("lbl")["neuron"].agg(lambda s: frozenset(s))
    assert sum(len(s) for s in sets) == len(frozenset().union(*sets))
    # final sigma=0.5 leaves ~13% neighborhood blending in the codebook
    # (topographic map, not k-means), so qerr is ~1.5, not ~0.05
    assert (pdf["qerr"] >= 0).all() and (pdf["qerr"] < 3.0).all()
    graded = api.som_clean(mapped, "lbl").toPandas()
    assert (graded["eval"] == "clean").all()
    assert np.allclose(graded["label_share"], 1.0)


def test_som_clean_grades_mixed_neuron(spark):
    rows = [(i, "a" if i < 7 else "b", 0) for i in range(10)]
    df = spark.createDataFrame(rows, "id int, lbl string, neuron int")
    graded = {
        (r.id): (r.eval, r.label_share) for r in api.som_clean(df, "lbl").collect()
    }
    assert all(graded[i] == ("clean", 0.7) for i in range(7))
    assert all(graded[i] == ("analyze", 0.3) for i in range(7, 10))


def test_segment_islands(spark):
    # gaps > 60s split segments; ties on ts ordered by the tiebreak col
    rows = [
        ("a", 0, 0), ("a", 30, 1), ("a", 100, 2),   # 70s gap -> new seg
        ("a", 130, 3), ("a", 131, 4),
        ("b", 0, 0), ("b", 1000, 1),
    ]
    df = spark.createDataFrame(
        [(k, float(t), i) for k, t, i in rows],
        "key string, tsec double, idx int",
    ).withColumn("ts", F.col("tsec").cast("timestamp"))
    got = api.segment(
        df, keys=["key"], order_by=["ts", "idx"], gap_s=60
    )
    seg = {
        (r.key, r.idx): r.seg_id for r in got.collect()
    }
    assert seg == {
        ("a", 0): 1, ("a", 1): 1, ("a", 2): 2, ("a", 3): 2, ("a", 4): 2,
        ("b", 0): 1, ("b", 1): 2,
    }


def test_patterns_matches_numpy(spark):
    rng = np.random.RandomState(3)
    rows = [
        (lab, int(s), float(v))
        for lab in ("x", "y")
        for s in range(5)
        for v in np.round(rng.rand(4) * 10, 3)
    ]
    df = spark.createDataFrame(rows, "label string, slot int, value double")
    got = {
        (r.label, r.slot): (r.pattern_raw, r.pattern_smooth, r.n_obs)
        for r in api.patterns(df, "label", "value", "slot").collect()
    }
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["label", "slot", "value"])
    for lab, g in pdf.groupby("label"):
        means = g.groupby("slot")["value"].mean()
        for s in means.index:
            lo, hi = max(s - 1, means.index.min()), min(s + 1, means.index.max())
            want_smooth = means.loc[lo:hi].mean()
            raw, smooth, n = got[(lab, s)]
            assert n == 4
            assert raw == pytest.approx(means.loc[s], rel=1e-9)
            assert smooth == pytest.approx(want_smooth, rel=1e-9)


def test_variance_matches_numpy(spark):
    """api.variance (sits_variance analog): +-window sample variance per
    key, both the var_samp and the exact-decimal paths, vs numpy."""
    import numpy as np

    vals = [1.25, 3.5, 2.0, 7.75, 4.5, 0.25, 9.0]
    rows = [("c1", i, v) for i, v in enumerate(vals)] + [("c2", 0, 5.0)]
    df = spark.createDataFrame(rows, "conv_id string, ts int, value double")
    for exact in (False, True):
        out = {
            (r.conv_id, r.ts): r.variance
            for r in api.variance(
                df, key="conv_id", order_by="ts", value="value",
                window=2, exact=exact,
            ).collect()
        }
        for i in range(len(vals)):
            lo, hi = max(0, i - 2), min(len(vals), i + 3)
            want = float(np.var(vals[lo:hi], ddof=1))
            assert out[("c1", i)] == pytest.approx(want, rel=1e-12), (exact, i)
        # single-row series: sample variance undefined -> NULL both paths
        assert out[("c2", 0)] is None


def test_combine_predictions_average_and_uncertainty(spark):
    """api.combine_predictions: fixed-weight average and per-row
    inverse-uncertainty weighting (w_i = (1/u_i) / sum(1/u_j) — the
    reference's normalize->invert->renormalize chain, with its
    conf(i,0) indexing slip corrected to the intended conf(i,c))."""
    a = spark.createDataFrame(
        [(1, 0.8, 0.2, 0.1), (2, 0.6, 0.4, 0.5)],
        "sid int, p_x double, p_y double, u double",
    )
    b = spark.createDataFrame(
        [(1, 0.4, 0.6, 0.3), (2, 0.2, 0.8, 0.5)],
        "sid int, p_x double, p_y double, u double",
    )
    avg = {
        r.sid: (r.p_x, r.p_y)
        for r in api.combine_predictions(
            [a, b], ["sid"], ["p_x", "p_y"], type="average"
        ).collect()
    }
    assert avg[1] == (pytest.approx(0.6), pytest.approx(0.4))
    assert avg[2] == (pytest.approx(0.4), pytest.approx(0.6))
    wavg = {
        r.sid: (r.p_x, r.p_y)
        for r in api.combine_predictions(
            [a, b], ["sid"], ["p_x", "p_y"], type="average", weights=[0.75, 0.25]
        ).collect()
    }
    assert wavg[1][0] == pytest.approx(0.75 * 0.8 + 0.25 * 0.4)
    unc = {
        r.sid: (r.p_x, r.p_y)
        for r in api.combine_predictions(
            [a, b], ["sid"], ["p_x", "p_y"], type="uncertainty", uncert_col="u"
        ).collect()
    }
    # sid 1: w_a = (1/0.1)/(1/0.1 + 1/0.3) = 0.75
    assert unc[1][0] == pytest.approx(0.75 * 0.8 + 0.25 * 0.4)
    # sid 2: equal uncertainty -> plain average
    assert unc[2][0] == pytest.approx(0.4)
    with pytest.raises(ValueError, match="sum to 1"):
        api.combine_predictions([a, b], ["sid"], ["p_x"], weights=[0.9, 0.2])
    with pytest.raises(ValueError, match="uncert_col"):
        api.combine_predictions([a, b], ["sid"], ["p_x"], type="uncertainty")


def test_sampling_design_matches_reference_formulas(spark):
    """api.sampling_design replicates sits_sampling_design's Cochran
    math (R/sits_sample_functions.R:312) for a fixture with one rare
    class, checked against a direct numpy replication."""
    import numpy as np

    counts = {"a": 700, "b": 250, "c": 50}  # c is rare at 5%
    rows = [(lab, i) for lab, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "label string, i int")
    ua = {"a": 0.95, "b": 0.75, "c": 0.6}
    got = {
        r.label: r.asDict()
        for r in api.sampling_design(
            df, "label", expected_ua=ua, alloc_options=(100, 50),
            std_err=0.01, rare_class_prop=0.1,
        ).collect()
    }
    total = sum(counts.values())
    prop = {k: v / total for k, v in counts.items()}
    sd = {k: float(np.round(np.sqrt(u * (1 - u)), 3)) for k, u in ua.items()}
    # signif(x,3) == round(x,3) here because all sd are in [0.1, 1)
    size = round((sum(prop[k] * sd[k] for k in counts) / 0.01) ** 2)
    for k in counts:
        assert got[k]["prop"] == pytest.approx(prop[k])
        assert got[k]["std_dev"] == pytest.approx(sd[k], abs=1e-12)
        assert got[k]["sample_size"] == size
        assert got[k]["equal"] == round(size / 3)
        assert got[k]["alloc_prop"] == round(prop[k] * size)
    # rare-class branch: c gets the fixed allocation
    rare_sum = prop["c"]
    for al in (100, 50):
        assert got["c"][f"alloc_{al}"] == al
        remaining = size - al  # one rare class
        for k in ("a", "b"):
            want = round(prop[k] / (1 - rare_sum) * remaining)
            assert got[k][f"alloc_{al}"] == want, (k, al)
