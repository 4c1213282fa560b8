"""ML layer tests: scalers/CV/OLS vs numpy oracles; anomaly detector e2e."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gordo_spark.ml.cv import kfold_split, timeseries_split
from gordo_spark.ml.models import (
    DiffBasedAnomalyDetector,
    LinearModel,
    model_from_definition,
    with_targets,
)
from gordo_spark.ml.scalers import MinMaxScalerExpr, RobustScalerExpr


def assert_join_path_values(frame, det, X, y):
    """``frame``, the anomaly block of ``det`` over X and y, has the rows of
    ``det.base.predict(X)`` and the values of that prediction joined to y
    on ts, with the error algebra (diff.py:356-439) done in numpy."""
    pred = det.base.predict(X).toPandas()
    j = pred.merge(y.toPandas(), on="ts").sort_values("ts")
    got = frame.sort_values("start")
    assert got["start"].tolist() == j["ts"].tolist()
    exp, unscaled, scaled = {}, [], []
    for t in det.base.target_cols:
        p, truth = j[f"model_output__{t}"].to_numpy(), j[t].to_numpy()
        mn, mx = det.scaler.stats[t]
        rng = mx - mn if mx != mn else 1.0
        unscaled.append(np.abs(p - truth))
        scaled.append(np.abs((p - mn) / rng - (truth - mn) / rng))
        exp[f"model_output__{t}"] = p
        exp[f"tag_anomaly_unscaled__{t}"] = unscaled[-1]
        exp[f"tag_anomaly_scaled__{t}"] = scaled[-1]
        if det.tag_thresholds_ is not None:
            exp[f"anomaly_confidence__{t}"] = unscaled[-1] / det.tag_thresholds_[t]
    exp["total_anomaly_unscaled"] = sum(e * e for e in unscaled) / len(unscaled)
    exp["total_anomaly_scaled"] = sum(e * e for e in scaled) / len(scaled)
    if det.total_threshold_ is not None:
        exp["total_anomaly_confidence"] = exp["total_anomaly_scaled"] / det.total_threshold_
    for c, v in exp.items():
        np.testing.assert_allclose(got[c].to_numpy(), v, rtol=1e-12, atol=0, err_msg=c)


@pytest.fixture(scope="module")
def xy(spark):
    rng = np.random.default_rng(3)
    n = 400
    ts = pd.date_range("2019-01-01", periods=n, freq="10min")
    a, b = rng.random(n), rng.random(n)
    t1 = 2.0 * a - 1.5 * b + 0.3 + rng.normal(0, 0.01, n)
    t2 = -a + 0.5 * b + 1.0 + rng.normal(0, 0.01, n)
    pdf = pd.DataFrame({"ts": ts, "a": a, "b": b, "t1": t1, "t2": t2})
    X = spark.createDataFrame(pdf[["ts", "a", "b"]])
    y = spark.createDataFrame(pdf[["ts", "t1", "t2"]])
    return X, y, pdf


def test_minmax_scaler_matches_sklearn_math(spark, xy):
    X, _, pdf = xy
    sc = MinMaxScalerExpr(["a", "b"]).fit(X)
    out = sc.transform(X).toPandas().sort_values("ts")
    exp = (pdf["a"] - pdf["a"].min()) / (pdf["a"].max() - pdf["a"].min())
    np.testing.assert_allclose(out["a"].values, exp.values, rtol=1e-12)
    assert out["a"].min() == 0.0 and out["a"].max() == 1.0


def test_robust_scaler(spark, xy):
    X, _, pdf = xy
    sc = RobustScalerExpr(["a"]).fit(X)
    out = sc.transform(X).toPandas().sort_values("ts")
    med = np.percentile(pdf["a"], 50)
    iqr = np.percentile(pdf["a"], 75) - np.percentile(pdf["a"], 25)
    np.testing.assert_allclose(out["a"].values, (pdf["a"] - med).values / iqr, rtol=1e-9)


def test_timeseries_split_matches_sklearn_arithmetic(spark, xy):
    X, _, _ = xy
    folds = timeseries_split(X, n_splits=3)
    n = 400
    test_size = n // 4  # 100
    for i, (train, test) in enumerate(folds):
        assert train.count() == n - (3 - i) * test_size
        assert test.count() == test_size
    # folds are contiguous in time: max(train ts) < min(test ts)
    tr_max = folds[0][0].agg(F.max("ts")).collect()[0][0]
    te_min = folds[0][1].agg(F.min("ts")).collect()[0][0]
    assert tr_max < te_min


def test_kfold_split_partitions(spark, xy):
    X, _, _ = xy
    folds = kfold_split(X, n_splits=5)
    counts = [t.count() for _, t in folds]
    assert sum(counts) == 400
    assert all(c == 80 for c in counts)


def test_linear_model_matches_numpy_ols(spark, xy):
    X, y, pdf = xy
    m = LinearModel().fit(X, y)
    A = np.column_stack([np.ones(len(pdf)), pdf["a"], pdf["b"]])
    exp, *_ = np.linalg.lstsq(A, pdf[["t1", "t2"]].values, rcond=None)
    np.testing.assert_allclose(m.coef_, exp, rtol=1e-8)
    pred = m.predict(X).toPandas().sort_values("ts")
    np.testing.assert_allclose(
        pred["model_output__t1"].values, (A @ exp)[:, 0], rtol=1e-8
    )
    assert m.offset == 0


def test_model_registry():
    m = model_from_definition({"kind": "LinearModel"})
    assert isinstance(m, LinearModel)
    with pytest.raises(ValueError):
        model_from_definition({"kind": "Nope"})


def test_anomaly_detector_end_to_end(spark, xy):
    X, y, pdf = xy
    det = DiffBasedAnomalyDetector(smoothing_method="smm", window=6)
    det.fit(X, y).cross_validate(X, y, n_splits=3)
    assert det.tag_thresholds_ is not None
    assert set(det.tag_thresholds_) == {"t1", "t2"}
    assert det.total_threshold_ > 0
    frame = with_targets(X, y, det.base.target_cols)
    out = det.anomaly(frame, resolution="10T", all_columns=True).toPandas().sort_values("start")
    expected_cols = {
        "start", "end",
        # model_input block = the X/feature tags (reference
        # make_base_dataframe emits model-input for the X side only)
        "model_input__a", "model_input__b", "model_output__t1",
        "tag_anomaly_unscaled__t1", "tag_anomaly_scaled__t1",
        "total_anomaly_unscaled", "total_anomaly_scaled",
        "smooth_total_anomaly_scaled", "anomaly_confidence__t1",
        "total_anomaly_confidence",
    }
    assert expected_cols <= set(out.columns)
    # unscaled tag anomaly == |model_output - y| (oracle invariant, FIXTURES F6)
    A = np.column_stack([np.ones(len(pdf)), pdf["a"], pdf["b"]])
    coef = det.base.coef_
    pred_t1 = A @ coef[:, 0]
    exp_err = np.abs(pred_t1 - pdf["t1"].values)
    np.testing.assert_allclose(
        out["tag_anomaly_unscaled__t1"].values, exp_err, rtol=1e-8
    )
    # total = mean of squared tag errors
    np.testing.assert_allclose(
        out["total_anomaly_unscaled"].values,
        (out["tag_anomaly_unscaled__t1"] ** 2 + out["tag_anomaly_unscaled__t2"] ** 2) / 2,
        rtol=1e-12,
    )
    # end = start + resolution
    assert ((out["end"] - out["start"]) == pd.Timedelta("10min")).all()
    # smoothing: first window-1 rows are NaN (min_periods semantics)
    assert out["smooth_total_anomaly_scaled"].iloc[:5].isna().all()
    assert out["smooth_total_anomaly_scaled"].iloc[5:].notna().all()
    # model trained on clean linear data: confidences well below 1 mostly
    assert out["total_anomaly_confidence"].median() < 1.0
    # reference diff.py:420 parity — tag confidence is the UNSCALED error
    # over the (unscaled-mae-derived) tag threshold
    np.testing.assert_allclose(
        out["anomaly_confidence__t1"].values,
        out["tag_anomaly_unscaled__t1"].values / det.tag_thresholds_["t1"],
        rtol=1e-9,
    )
    # a model scored outside serving keeps no Columns: new thresholds (as
    # CV writes them) show in its next anomaly block with nothing to reset
    det.tag_thresholds_ = {t: 2 * v for t, v in det.tag_thresholds_.items()}
    again = det.anomaly(frame, resolution="10T").toPandas().sort_values("start")
    np.testing.assert_allclose(
        again["anomaly_confidence__t1"].values,
        out["anomaly_confidence__t1"].values / 2,
        rtol=1e-12,
    )


def test_kfcv_accepts_ewma_smoothing(spark, xy):
    """smoothing_method='ewma' must route through the applyInPandas EWMA,
    not KeyError on the bounded-window SMOOTHERS dict."""
    from gordo_spark.ml.models import DiffBasedKFCVAnomalyDetector

    X, y, _ = xy
    det = DiffBasedKFCVAnomalyDetector(
        smoothing_method="ewma", window=6, n_splits=3
    )
    det.fit(X, y)
    det.cross_validate(X, y)
    assert det.tag_thresholds_["t1"] > 0
    assert det.total_threshold_ > 0


@pytest.mark.parametrize("method", ["smm", "sma", "ewma"])
def test_smoothing_on_dotted_tag_names(spark, xy, method):
    """A dotted tag name (gordo's ``GRA-TE  -23-0733.PV``) smooths like any
    other: through ``smooth`` and ``anomaly_frame`` as pandas does, and a
    KFold build gives the thresholds of the same data under plain names."""
    from gordo_spark.builder import ModelBuilder
    from gordo_spark.config import Machine
    from gordo_spark.operators.anomaly import anomaly_frame
    from gordo_spark.operators.smoothing import smooth

    _, _, pdf = xy
    tag = "GRA-TE  -23-0733.PV"

    def pandas_smooth(v):
        roll = v.rolling(6, min_periods=6)
        return {"smm": roll.median, "sma": roll.mean, "ewma": v.ewm(span=6).mean}[method]()

    got = smooth(spark.createDataFrame(pdf.rename(columns={"a": tag})), [tag], method, 6)
    got = got.toPandas().sort_values("ts")[f"smooth_{tag}"].to_numpy()
    np.testing.assert_allclose(got, pandas_smooth(pdf["a"]), rtol=1e-12)

    aligned = spark.createDataFrame(
        pdf.rename(columns={"a": tag, "t1": f"model_output__{tag}"})
    )
    out = anomaly_frame(
        aligned, [tag], smoothing_method=method, smoothing_window=6, thresholds={tag: 2.0}
    )
    out = out.toPandas().sort_values("start")
    err = (pdf["t1"] - pdf["a"]).abs()
    np.testing.assert_allclose(
        out[f"smooth_tag_anomaly_unscaled__{tag}"].to_numpy(), pandas_smooth(err), rtol=1e-12
    )
    np.testing.assert_allclose(out[f"anomaly_confidence__{tag}"].to_numpy(), err / 2, rtol=1e-12)

    def kfcv_thresholds(names):
        machine = Machine.from_config(
            {
                "name": "dotted-machine",
                "dataset": {
                    "tag_list": [names["a"], names["b"]],
                    "target_tag_list": [names["t1"], names["t2"]],
                    "resolution": "10T",
                },
                "model": {
                    "kind": "DiffBasedKFCVAnomalyDetector", "window": 6,
                    "smoothing_method": method, "n_splits": 3,
                },
            }
        )
        wide = spark.createDataFrame(pdf.rename(columns=names))
        r = ModelBuilder(machine, wide_frame=wide).build(spark)
        return r.metadata["build-metadata"]["model"]["thresholds"]

    plain = kfcv_thresholds({c: c for c in ["a", "b", "t1", "t2"]})
    dotted = kfcv_thresholds({"a": "a.x", "b": "b", "t1": tag, "t2": "t2"})
    assert dotted["tags"] == {tag: plain["tags"]["t1"], "t2": plain["tags"]["t2"]}
    assert dotted["total"] == plain["total"]


def test_model_definition_roundtrip():
    from gordo_spark.ml.models import (
        DiffBasedAnomalyDetector,
        model_from_definition,
        model_into_definition,
    )

    d = {
        "kind": "DiffBasedAnomalyDetector",
        "base_estimator": {"kind": "LinearModel", "feature_cols": ["a", "b"]},
        "smoothing_method": "sma",
        "window": 12,
    }
    m = model_from_definition(d)
    assert isinstance(m, DiffBasedAnomalyDetector)
    assert m.base.feature_cols == ["a", "b"]
    assert m.window == 12
    out = model_into_definition(m)
    # materialized definition includes the defaults the input omitted
    assert out["require_thresholds"] is False
    assert out["base_estimator"]["kind"] == "LinearModel"
    m2 = model_from_definition(out)
    assert m2.window == m.window and m2.base.feature_cols == m.base.feature_cols


def test_function_transformer_exprs(spark):
    import pandas as pd
    from gordo_spark.ml.transformers import FunctionTransformerExpr

    pdf = pd.DataFrame(
        {"ts": pd.date_range("2024-01-01", periods=3, freq="1h"),
         "a": [1.0, 2.0, 3.0], "b": [10.0, 20.0, 30.0]}
    )
    df = spark.createDataFrame(pdf)
    out = FunctionTransformerExpr("multiply_by", factor=2.0).transform(df).toPandas()
    assert out["a"].tolist() == [2.0, 4.0, 6.0]
    assert out["b"].tolist() == [20.0, 40.0, 60.0]
    clipped = FunctionTransformerExpr("clip", lo=2.0, hi=25.0).transform(df, cols=["b"]).toPandas()
    assert clipped["b"].tolist() == [10.0, 20.0, 25.0]
    assert clipped["a"].tolist() == [1.0, 2.0, 3.0]  # untouched
    with pytest.raises(ValueError, match="unknown transformer"):
        FunctionTransformerExpr("nope")


def test_kfcv_detector_thresholds(spark, sf_dir):
    from gordo_spark.ml.models import DiffBasedKFCVAnomalyDetector
    from gordo_spark.plans import TimeSeriesDataset

    ds = TimeSeriesDataset(
        tag_list=["click", "view"],
        target_tag_list=["purchase"],
        resolution="1H",
        interpolation_method="ffill",
        interpolation_limit="6H",
        data_provider={"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
    )
    X, y = ds.get_data(spark)
    m = DiffBasedKFCVAnomalyDetector(window=6, n_splits=3)
    m.base.feature_cols = ["click", "view"]
    m.base.target_cols = ["purchase"]
    m.cross_validate(X, y)
    # purchase is NOT perfectly predictable from click/view -> threshold > 0
    assert m.tag_thresholds_["purchase"] > 0
    assert m.total_threshold_ > 0
    # threshold is the 0.99 quantile of the smoothed OOF error: strictly
    # below the raw max error
    m.fit(X, y)
    frame = m.anomaly(with_targets(X, y, m.base.target_cols), resolution="1H")
    assert "total_anomaly_confidence" in frame.columns


def test_lagged_linear_model_offset_and_anomaly(spark, sf_dir):
    import pandas as pd
    from gordo_spark.ml.models import DiffBasedAnomalyDetector, LaggedLinearModel
    from gordo_spark.plans import TimeSeriesDataset

    ds = TimeSeriesDataset(
        tag_list=["click", "view"],
        resolution="1H",
        interpolation_method="ffill",
        interpolation_limit="6H",
        data_provider={"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
    )
    X, y = ds.get_data(spark)
    n = X.count()
    m = LaggedLinearModel(lookback=3, lookahead=1)
    assert m.offset == 3  # M8: declarative, lookback-1+lookahead
    m.fit(X, y)
    pred = m.predict(X).toPandas().sort_values("ts")
    # J5: output exactly offset rows shorter, keyed by target timestamp
    assert len(pred) == n - m.offset
    xp = X.toPandas().sort_values("ts").reset_index(drop=True)
    assert pred["ts"].iloc[0] == xp["ts"].iloc[m.offset]

    # the autoregressive fit on a lag-1-correlated series beats nothing:
    # prediction correlates strongly with the actual value at target ts
    joined = pred.merge(xp[["ts", "click"]], on="ts")
    corr = joined["model_output__click"].corr(joined["click"])
    assert corr > 0.5

    # the anomaly block scores the rows with a full window: predict()'s rows,
    # with the values of predict() joined to y on ts
    det = DiffBasedAnomalyDetector(base_estimator=m, window=6)
    det.fit(X, y)
    frame = det.anomaly(with_targets(X, y, det.base.target_cols), resolution="1H").toPandas()
    assert len(frame) == n - det.base.offset
    assert_join_path_values(frame, det, X, y)


def test_lagged_model_roundtrip_definition():
    from gordo_spark.ml.models import model_from_definition, model_into_definition

    m = model_from_definition(
        {"kind": "LaggedLinearModel", "lookback": 5, "lookahead": 0}
    )
    assert m.offset == 4
    d = model_into_definition(m)
    assert d["lookback"] == 5 and d["lookahead"] == 0


def test_detector_robust_scaler_option(spark, sf_dir):
    from gordo_spark.ml.models import DiffBasedAnomalyDetector
    from gordo_spark.plans import TimeSeriesDataset

    ds = TimeSeriesDataset(
        tag_list=["click", "view"],
        target_tag_list=["purchase"],
        resolution="1H",
        interpolation_method="ffill",
        interpolation_limit="6H",
        data_provider={"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
    )
    X, y = ds.get_data(spark)
    det = DiffBasedAnomalyDetector(window=6, scaler="robust")
    det.base.feature_cols = ["click", "view"]
    det.base.target_cols = ["purchase"]
    det.fit(X, y)
    xy = with_targets(X, y, det.base.target_cols)
    frame = det.anomaly(xy, resolution="1H").toPandas().dropna()
    # scaled error must be |err_unscaled| / IQR with robust stats
    med, iqr = det.scaler.stats["purchase"]
    import numpy as np

    np.testing.assert_allclose(
        frame["tag_anomaly_scaled__purchase"],
        frame["tag_anomaly_unscaled__purchase"] / iqr,
        rtol=1e-9,
    )
    assert det.into_definition()["scaler"] == "robust"
    with pytest.raises(ValueError, match="unknown scaler"):
        DiffBasedAnomalyDetector(scaler="zscore")


def test_dotted_and_spaced_tag_names_end_to_end(spark, sensor_df):
    """Tags like 'GRA-TE  -23-0733.PV' (dots + spaces, explicitly supported
    per the reference's tag naming) must flow through fit/CV/anomaly."""
    from gordo_spark.ml.models import DiffBasedAnomalyDetector
    from gordo_spark.operators import (
        inner_align, pivot_wide, regularize_grid, resample_aggregate, interpolate, split_xy,
    )

    tags = ["tag-0", "GRA-TE  -23-0733.PV"]
    res = resample_aggregate(sensor_df.filter(F.col("tag").isin(tags)), "10T", "mean")
    filled = interpolate(regularize_grid(res, "10T"), "10T", "ffill", "1H")
    wide = inner_align(pivot_wide(filled, tags), tags)
    X, y = split_xy(wide, tags)
    det = DiffBasedAnomalyDetector(window=6)
    det.base.feature_cols = tags
    det.base.target_cols = tags
    det.fit(X, y)
    det.cross_validate(X, y, n_splits=3)
    # the NaN and inf readings are dropped before training, not fit on
    assert np.isfinite(det.base.coef_).all()
    assert np.isfinite([*det.tag_thresholds_.values(), det.total_threshold_]).all()
    assert np.isfinite([v for s in det.scaler.stats.values() for v in s]).all()
    frame = with_targets(X, y, det.base.target_cols)
    for all_columns in (False, True):
        out = det.anomaly(frame, resolution="10T", all_columns=all_columns)
        cols = set(out.columns)
        assert "tag_anomaly_scaled__GRA-TE  -23-0733.PV" in cols
        assert "anomaly_confidence__GRA-TE  -23-0733.PV" in cols
        assert ("smooth_tag_anomaly_scaled__GRA-TE  -23-0733.PV" in cols) == all_columns
        assert out.count() > 100


def test_model_from_definition_import_path_kind():
    """Reference parity: any importable module.Class works as a kind
    (from_definition's reflective factory), nested defs included."""
    from gordo_spark.ml.models import model_from_definition

    m = model_from_definition(
        {"kind": "gordo_spark.ml.models.LinearModel", "feature_cols": ["a"]}
    )
    assert type(m).__name__ == "LinearModel" and m.feature_cols == ["a"]

    with pytest.raises(ValueError, match="cannot import"):
        model_from_definition({"kind": "no.such.module.Cls"})
    with pytest.raises(ValueError, match="unknown model kind"):
        model_from_definition({"kind": "NotRegistered"})


class _NumpyOLS:
    """Minimal sklearn-shaped estimator for the pyfunc plug-in test (the
    stand-in for a TF/sklearn model arriving via import path)."""

    def fit(self, X, y):
        import numpy as np

        Xb = np.hstack([np.ones((len(X), 1)), X])
        self.w = np.linalg.lstsq(Xb, y, rcond=None)[0]
        return self

    def predict(self, X):
        import numpy as np

        return np.hstack([np.ones((len(X), 1)), X]) @ self.w


def test_python_estimator_model_fits_and_scores_distributed(spark, sf_dir):
    from gordo_spark.ml.models import LinearModel, model_from_definition

    import tests.test_ml as me  # noqa: F401  (importable path for the kind)

    from gordo_spark.operators import inner_align, pivot_wide, resample_aggregate
    from gordo_spark.sources.providers import EventsAsSensorProvider

    tags = ["click", "view", "purchase"]
    long = EventsAsSensorProvider(sf_dir).read(spark, tags)
    wide = inner_align(pivot_wide(resample_aggregate(long, "1H", "mean"), tags), tags)
    X, y = wide.select("ts", "click", "view"), wide.select("ts", "purchase")
    m = model_from_definition(
        {
            "kind": "PythonEstimatorModel",
            "estimator": "tests.test_ml._NumpyOLS",
        }
    )
    m.fit(X, y)
    got = (
        m.predict(X)
        .toPandas()
        .sort_values("ts")["model_output__purchase"]
        .to_numpy()
    )
    # oracle: the exact distributed OLS on the same data
    exact = LinearModel().fit(X, y)
    exp = (
        exact.predict(X)
        .toPandas()
        .sort_values("ts")["model_output__purchase"]
        .to_numpy()
    )
    import numpy as np

    np.testing.assert_allclose(got, exp, rtol=1e-6)
    # definition round-trip keeps the import path
    d = m.into_definition()
    assert d["estimator"] == "tests.test_ml._NumpyOLS"


def test_python_estimator_model_on_dotted_tag_names(spark, xy):
    """A Python estimator's pandas passes fit and score a dotted tag name
    (gordo's ``GRA-TE  -23-0733.PV``) as they do a plain one."""
    _, _, pdf = xy
    tag = "GRA-TE  -23-0733.PV"

    def predictions(names):
        named = pdf.rename(columns=names)
        X = spark.createDataFrame(named[["ts", names["a"], "b"]])
        y = spark.createDataFrame(named[["ts", names["t1"], "t2"]])
        m = model_from_definition({"kind": "PythonEstimatorModel", "estimator": "tests.test_ml._NumpyOLS"})
        return m.fit(X, y).predict(X).toPandas().sort_values("ts")

    plain = predictions({"a": "a", "t1": "t1"})
    dotted = predictions({"a": "a.x", "t1": tag})
    np.testing.assert_array_equal(dotted[f"model_output__{tag}"], plain["model_output__t1"])
    np.testing.assert_array_equal(dotted["model_output__t2"], plain["model_output__t2"])


def test_sklearn_kfold_membership_parity(spark, xy):
    """fold_column('shuffle') must reproduce sklearn
    KFold(5, shuffle=True, random_state=0) membership bit-for-bit."""
    from gordo_spark.ml.cv import fold_column, sklearn_kfold_membership

    n, k = 400, 5
    fold_of = sklearn_kfold_membership(n, k, seed=0)
    # chunk-dealt sizes: all folds equal when k | n
    counts = np.bincount(fold_of, minlength=k)
    assert counts.tolist() == [80] * 5
    try:
        from sklearn.model_selection import KFold

        exp = np.empty(n, dtype=int)
        for f, (_, test_idx) in enumerate(
            KFold(n_splits=k, shuffle=True, random_state=0).split(np.zeros((n, 1)))
        ):
            exp[test_idx] = f
        np.testing.assert_array_equal(fold_of, exp)
    except ImportError:
        # sklearn absent in this env: pin the permutation prefix instead so
        # a numpy RNG regression is still caught
        np.testing.assert_array_equal(
            np.random.RandomState(0).permutation(10),
            [2, 8, 4, 9, 1, 6, 7, 3, 0, 5],
        )

    X, _, _ = xy
    withf = fold_column(X, k, "ts", membership="shuffle", seed=0)
    got = withf.toPandas().sort_values("ts")["_fold"].to_numpy()
    np.testing.assert_array_equal(got, fold_of)


def test_kfcv_shuffle_vs_modulo_membership(spark, xy):
    """Default KFCV membership is the sklearn shuffle; modulo stays as the
    oracle-portable fallback and yields a different (interleaved) split."""
    from gordo_spark.ml.models import DiffBasedKFCVAnomalyDetector

    X, y, _ = xy
    d_shuffle = DiffBasedKFCVAnomalyDetector(window=6, n_splits=3)
    assert d_shuffle.fold_membership == "shuffle"
    d_shuffle.fit(X, y).cross_validate(X, y)
    d_mod = DiffBasedKFCVAnomalyDetector(
        window=6, n_splits=3, fold_membership="modulo"
    )
    d_mod.fit(X, y).cross_validate(X, y)
    for d in (d_shuffle, d_mod):
        assert d.total_threshold_ > 0 and d.tag_thresholds_["t1"] > 0
    # round-trips through the definition
    assert d_mod.into_definition()["fold_membership"] == "modulo"


def test_logreg_distributed_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from gordo_spark.ml.logreg import LogisticModel, numpy_irls

    # deterministic separable-ish data (fixed seed, driver-side)
    rng = np.random.RandomState(0)
    X = rng.randn(400, 3)
    y = (X @ np.array([1.5, -2.0, 0.5]) + 0.3 + 0.5 * rng.randn(400) > 0).astype(int)
    pdf = pd.DataFrame(X, columns=["a", "b", "c"])
    pdf["label"] = y
    df = spark.createDataFrame(pdf).repartition(7)  # exercise partial aggs
    m = LogisticModel(["a", "b", "c"], "label", iters=8).fit(df)
    ref = numpy_irls(X, y, iters=8)
    assert np.allclose(m.coef_, ref, atol=1e-8)
    # scoring is a row-local sigmoid of the fitted projection
    scored = m.score(df).toPandas()
    p = 1.0 / (1.0 + np.exp(-(ref[0] + scored[["a", "b", "c"]].to_numpy() @ ref[1:])))
    assert np.allclose(scored["score"].to_numpy(), p, atol=1e-8)


def test_logreg_gd_exact_empty_input_raises(spark):
    """The empty-input guard rides the first gradient aggregation now
    (isEmpty/count folded into one job) — it must still raise loudly
    before any weight is touched when every row is null-dropped."""
    import pytest as _pytest

    from gordo_spark.ml.logreg import LogisticModel

    df = spark.createDataFrame(
        [(None, 1.0), (2.0, None)], "a double, label double"
    )
    m = LogisticModel(["a"], "label")
    with _pytest.raises(ValueError, match="no rows with non-null"):
        m.fit_gd_exact(df, lr=0.5, gd_iters=3)
    assert m.coef_ is None


def test_logreg_gd_exact_partitioning_invariant_and_on_grid(spark):
    """fit_gd_exact: weights land on the 1e-9 grid, are bit-identical
    across partitionings (exact scaled-integer gradient sums), and
    match the same quantized recipe run in pure numpy."""
    import math

    import numpy as np
    import pandas as pd

    from gordo_spark.ml.logreg import LogisticModel

    rng = np.random.RandomState(1)
    X = rng.randn(300, 2)
    y = (X @ np.array([1.0, -1.0]) > 0).astype(int)
    pdf = pd.DataFrame(X, columns=["a", "b"])
    pdf["label"] = y

    coefs = []
    for parts in (1, 13):
        df = spark.createDataFrame(pdf).repartition(parts)
        m = LogisticModel(["a", "b"], "label")
        m.fit_gd_exact(df, lr=0.5, gd_iters=6)
        coefs.append(m.coef_.copy())
    assert (coefs[0] == coefs[1]).all()
    assert all(
        w == math.floor(w * 1e9 + 0.5) / 1e9 for w in coefs[0]
    )

    # numpy mirror of the exact recipe
    Xb = np.hstack([np.ones((len(X), 1)), X])
    w = np.zeros(3)
    for _ in range(6):
        z = (w[0] + w[1] * Xb[:, 1]) + w[2] * Xb[:, 2]
        p = np.floor((1.0 / (1.0 + np.exp(-z))) * 1e6 + 0.5) / 1e6
        g = np.array(
            [
                np.floor((y - p) * Xb[:, i] * 1e12 + 0.5).sum() / 1e12 / len(y)
                for i in range(3)
            ]
        )
        w = np.floor((w + 0.5 * g) * 1e9 + 0.5) / 1e9
    assert np.allclose(coefs[0], w, atol=2e-9)
