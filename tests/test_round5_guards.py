"""Round-5 guard rails: driver-collect caps, vacuum ownership, dtype-strict
selfcheck (VERDICT r4 #1/#3/#10), and a NULL conv_id failing the run loudly.
"""

import os

import numpy as np
import pandas as pd
import pytest

from sits_spark import api


def test_selfcheck_dtype_strict_reproduces_kappa_bug():
    """The r4 red row (api_accuracy_kappa) was an int64-vs-float64 oracle
    dtype drift that np.array_equal silently passed; the selfcheck must
    now fail it even though the values are numerically identical."""
    import selfcheck_oracle as sc

    got = pd.DataFrame({"n_ref": np.array([1979, 3], dtype=np.int64)})
    want = pd.DataFrame({"n_ref": np.array([1979.0, 3.0], dtype=np.float64)})
    err = sc.compare(got, want)
    assert err is not None and "dtype class mismatch" in err
    # same-dtype frames still pass
    assert sc.compare(got, got.copy()) is None
    assert sc.compare(want, want.copy()) is None


def test_validate_kfold_sample_cap(spark):
    rows = [(i, float(i % 2), "pos" if i % 2 else "neg") for i in range(30)]
    df = spark.createDataFrame(rows, "id int, f double, label string")

    def fit(_pdf):
        return api.LinearSoftmaxModel(["neg", "pos"], [[-2.0], [2.0]], [0.0, 0.0])

    with pytest.raises(ValueError, match="sample_cap"):
        api.validate_kfold(df, 3, ["id"], fit, ["f"], "label", sample_cap=10)
    # at/below the cap the validation still runs
    got = api.validate_kfold(
        df, 3, ["id"], fit, ["f"], "label", sample_cap=30
    ).collect()
    assert sum(r.n for r in got) == 30


def test_smote_minority_guard(spark):
    rows = [(i, "m", [float(i), 0.0]) for i in range(5)] + [(99, "M", [9.0, 9.0])]
    df = spark.createDataFrame(rows, "id int, lbl string, v array<double>")
    with pytest.raises(ValueError, match="max_minority"):
        api.smote(df, "lbl", "v", "id", minority="m", max_minority=3)


def test_som_train_too_few_samples():
    X = np.ones((3, 4))  # 3 samples cannot seed a 4x4=16-neuron grid
    with pytest.raises(ValueError, match="som_train needs at least 16"):
        api.som_train(X, grid=(4, 4))


def test_vacuum_skips_out_of_band_tier(spark, tmp_path_factory):
    """vacuum must never delete files of a tier the manifest doesn't
    govern — read_tier supports such out-of-band tables via the
    directory-read fallback, so reclaiming them destroys live data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sits_spark.pipeline import RollupPipeline, TIER_DIRS

    wh = str(tmp_path_factory.mktemp("oob") / "tiers")
    pipe = RollupPipeline(spark, wh)
    # drop a data file into the slot tier dir with NO manifest commit
    d = os.path.join(wh, TIER_DIRS["tier_1m"], "bucket=0")
    os.makedirs(d)
    pq.write_table(pa.table({"x": [1]}), os.path.join(d, "part-oob.parquet"))
    assert pipe._live_files("tier_1m") is None  # out-of-band: dir fallback
    assert pipe.vacuum() == 0
    assert os.path.exists(os.path.join(d, "part-oob.parquet"))


def test_null_conv_id_fails_loudly(spark, tmp_path_factory):
    """Turns with a NULL conv_id fail the run with an error naming
    conv_id as NULL, instead of a numpy TypeError deep in the kernel or a
    silently partial table."""
    from sits_spark import fixtures
    from sits_spark.pipeline import RollupPipeline

    pdf = fixtures.gen_transcripts(5, seed=3, hot_turns=20, include_edges=False)
    pdf.loc[[0, 7, 11], "conv_id"] = None
    inp = str(tmp_path_factory.mktemp("null_in") / "t")
    spark.createDataFrame(pdf).write.parquet(inp)
    pipe = RollupPipeline(spark, str(tmp_path_factory.mktemp("null_wh")))
    with pytest.raises(Exception, match="conv_id is NULL"):
        pipe.run(inp, run_id="null-1")


def test_null_ts_fails_loudly(spark, tmp_path_factory):
    """Turns with a NULL ts fail the run with an error naming ts as NULL,
    instead of numpy's float64-to-int64 cast TypeError in the kernel."""
    from sits_spark import fixtures
    from sits_spark.pipeline import RollupPipeline

    pdf = fixtures.gen_transcripts(5, seed=3, hot_turns=20, include_edges=False)
    pdf.loc[[2, 9], "ts"] = None
    inp = str(tmp_path_factory.mktemp("null_ts_in") / "t")
    spark.createDataFrame(pdf).write.parquet(inp)
    pipe = RollupPipeline(spark, str(tmp_path_factory.mktemp("null_ts_wh")))
    with pytest.raises(Exception, match="ts is NULL"):
        pipe.run(inp, run_id="null-ts-1")
