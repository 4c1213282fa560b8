"""End-to-end builder lifecycle tests (reference gordo build parity,
SURVEY.md §3.1): config -> data -> CV -> fit -> persist -> cache hit."""

import dataclasses

import numpy as np
import pandas as pd
import pytest

from gordo_spark.builder import ModelBuilder, build_machines, dataset_from_dict
from gordo_spark.config import Machine
from gordo_spark.ml.cv import sklearn_kfold_membership
from gordo_spark.ml.models import NonFiniteError, model_from_definition
from gordo_spark.operators import InsufficientDataError
from gordo_spark.plans.dataset import TimeSeriesDataset
from gordo_spark.sources.store import DiskRegistry, ModelStore


@pytest.fixture()
def machine(sf_dir):
    return Machine.from_config(
        {
            "name": "test-machine",
            "dataset": {
                "tag_list": ["click", "view", "purchase"],
                "resolution": "1H",
                "interpolation_method": "ffill",
                "interpolation_limit": "6H",
                "data_provider": {
                    "type": "EventsAsSensorProvider",
                    "sf_dir": sf_dir,
                },
            },
            "model": {"kind": "LinearModel"},
            "evaluation": {"cv_mode": "full_build", "n_splits": 3},
        }
    )


def test_dataset_from_dict_ignores_unknown_keys(sf_dir):
    ds = dataset_from_dict(
        {
            "type": "TimeSeriesDataset",
            "tag_list": [{"name": "click"}, "view"],
            "resolution": "1H",
            "asset": "plant-a",
        }
    )
    assert ds.tag_list == ["click", "view"]
    assert ds.resolution == "1H"
    # every TimeSeriesDataset field passes through
    values = {f.name: f"<{f.name}>" for f in dataclasses.fields(TimeSeriesDataset)}
    values.update(tag_list=["a"], target_tag_list=["b"], additional_tags=["c"])
    ds = dataset_from_dict({**values, "type": "TimeSeriesDataset"})
    assert dataclasses.asdict(ds) == values


def test_build_full_lifecycle_and_cache(spark, machine, tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    registry = DiskRegistry(str(tmp_path / "registry"))

    r1 = ModelBuilder(machine, store, registry).build(spark)
    assert not r1.cached
    assert r1.path is not None
    md = r1.metadata["build-metadata"]
    assert md["dataset"]["row_count"] > 100
    scores = md["model"]["cross_validation"]["scores"]
    assert set(scores) == {
        "mean-squared-error", "mean-absolute-error", "r2-score",
        "explained-variance-score",
    }
    assert len(scores["r2-score"]["raw"]) == 3
    assert len(md["model"]["cross_validation"]["folds"]) == 3
    # targets default to tag_list; an OLS on its own inputs is near-perfect
    assert scores["r2-score"]["mean"] > 0.99

    # second build: registry hit, model loads from the store, no data job
    r2 = ModelBuilder(machine, store, registry).build(spark)
    assert r2.cached
    assert r2.model.coef_ is not None

    # predict parity between built and reloaded model
    import numpy as np

    assert np.allclose(r1.model.coef_, r2.model.coef_)


def test_build_anomaly_model_records_thresholds(spark, machine, tmp_path):
    machine.model = {"kind": "DiffBasedAnomalyDetector", "window": 6}
    store = ModelStore(str(tmp_path / "models"))
    r = ModelBuilder(machine, store).build(spark)
    th = r.metadata["build-metadata"]["model"]["thresholds"]
    assert set(th["tags"]) == {"click", "view", "purchase"}
    assert th["total"] is not None and th["total"] > 0


def test_build_machines_concurrent(spark, machine, tmp_path):
    m2 = Machine.from_config({**machine.to_dict(), "name": "second-machine"})
    store = ModelStore(str(tmp_path / "models"))
    results = build_machines(spark, [machine, m2], store, max_workers=2)
    assert set(results) == {"test-machine", "second-machine"}
    assert all(not r.cached and r.path for r in results.values())


def test_shared_scan_build_keeps_additional_tags(spark, machine):
    """A shared-scan build trains on the same inputs as the solo build:
    ``additional_tags`` are model inputs either way."""
    machine.dataset = {
        **machine.dataset, "tag_list": ["click", "view"], "additional_tags": ["purchase"]
    }
    machine.model = {"kind": "DiffBasedAnomalyDetector", "window": 6}
    twin = Machine.from_config({**machine.to_dict(), "name": "twin-machine"})
    solo = ModelBuilder(machine).build(spark)
    shared = build_machines(spark, [machine, twin], max_workers=2)[machine.name]
    assert solo.model.base.feature_cols == ["click", "view", "purchase"]
    assert shared.model.base.feature_cols == solo.model.base.feature_cols
    assert shared.model.base.target_cols == solo.model.base.target_cols == ["click", "view"]
    close = dict(rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(shared.model.base.coef_, solo.model.base.coef_, **close)
    th_solo = solo.metadata["build-metadata"]["model"]["thresholds"]
    th_shared = shared.metadata["build-metadata"]["model"]["thresholds"]
    assert list(th_shared["tags"]) == list(th_solo["tags"])
    np.testing.assert_allclose(
        [*th_shared["tags"].values(), th_shared["total"]],
        [*th_solo["tags"].values(), th_solo["total"]],
        **close,
    )


def test_scoring_scaler_scales_mae_not_r2(spark, machine, tmp_path):
    from gordo_spark.builder import ModelBuilder

    plain = ModelBuilder(machine).build(spark)
    machine.evaluation = {**machine.evaluation, "scoring_scaler": "robust"}
    scaled = ModelBuilder(machine).build(spark)
    s_p = plain.metadata["build-metadata"]["model"]["cross_validation"]["scores"]
    s_s = scaled.metadata["build-metadata"]["model"]["cross_validation"]["scores"]
    # r2 / explained variance are affine-invariant; mse/mae change scale
    assert abs(s_p["r2-score"]["mean"] - s_s["r2-score"]["mean"]) < 1e-9
    assert s_p["mean-absolute-error"]["mean"] != s_s["mean-absolute-error"]["mean"]


def test_cli_exceptions_reporter_file(tmp_path):
    import json as _json
    import subprocess, sys, textwrap

    cfg = tmp_path / "m.yaml"
    cfg.write_text(
        textwrap.dedent(
            """
            machines:
              - name: too-small
                dataset:
                  tag_list: [click]
                  resolution: "1H"
                  n_samples_threshold: 10000000
                  data_provider:
                    type: EventsAsSensorProvider
                    sf_dir: /root/testdata/sf0.001
            """
        )
    )
    report = tmp_path / "report.json"
    r = subprocess.run(
        [sys.executable, "-m", "gordo_spark.cli", "build", "--config", str(cfg),
         "--exceptions-reporter-file", str(report)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 80, r.stderr[-2000:]
    rep = _json.loads(report.read_text())
    # MESSAGE level (default): type + trimmed message, no traceback
    assert rep["type"] == "InsufficientDataError"
    assert "message" in rep and "traceback" not in rep


def test_build_lagged_model_machine(spark, machine):
    """An offset model's build on the events data equals per-fold lstsq
    over target-keyed lags (inputs click, view; targets view, purchase)."""
    from pyspark.sql import functions as F

    wide = dataset_from_dict(machine.dataset).wide_frame(spark).select(
        "ts",
        F.col("click").alias("a"), F.col("view").alias("b"),
        F.col("view").alias("t1"), F.col("purchase").alias("t2"),
    )
    pdf = wide.toPandas().sort_values("ts").reset_index(drop=True)
    r = ModelBuilder(_xy_machine(3, base=_lagged()), wide_frame=wide).build(spark)
    assert r.model.base.offset == 3
    _assert_matches_oracle(r, _oracle(pdf, 3, None, "minmax", _design(3, 1)), pdf, 3)


def test_exceptions_reporter_semantics():
    """Reference exceptions_reporter.py parity: subclass-before-base
    matching, verbosity ladder, trimming keeps the traceback TAIL."""
    import io as _io
    import json as _json

    from gordo_spark.exceptions_reporter import (
        ExceptionsReporter,
        ReportLevel,
        default_reporter,
    )
    from gordo_spark.operators.filters import InsufficientDataError

    rep = default_reporter()
    # subclass matches before its base even though Exception is in the table
    assert rep.exit_code_for(InsufficientDataError) == 80
    assert rep.exit_code_for(ValueError) == 2
    assert rep.exit_code_for(KeyError) == 1  # falls to Exception
    assert rep.exit_code_for(None) == 0

    def _report(level, max_len=None):
        try:
            raise InsufficientDataError("x" * 500)
        except InsufficientDataError as e:
            buf = _io.StringIO()
            rep.write_report(level, type(e), e, e.__traceback__, buf, max_len)
            return _json.loads(buf.getvalue())

    assert _report(ReportLevel.EXIT_CODE) == {}
    assert set(_report(ReportLevel.TYPE)) == {"type"}
    msg = _report(ReportLevel.MESSAGE, max_len=50)
    assert msg["message"].endswith("...") and len(msg["message"]) <= 50
    tb = _report(ReportLevel.TRACEBACK, max_len=600)
    assert tb["traceback"].startswith("...")  # head trimmed, tail kept
    assert "InsufficientDataError" in tb["traceback"]
    # a budget smaller than any single line leaves only the marker
    assert _report(ReportLevel.TRACEBACK, max_len=10)["traceback"] == "...\n"
    # non-ascii scrubbed
    r2 = ExceptionsReporter({ValueError: 2})
    try:
        raise ValueError("bad é中 value")
    except ValueError as e:
        buf = _io.StringIO()
        r2.write_report(ReportLevel.MESSAGE, type(e), e, e.__traceback__, buf)
        assert _json.loads(buf.getvalue())["message"] == "bad ?? value"
        # an exception class outside the table reports {}
        buf2 = _io.StringIO()
        r2.write_report(ReportLevel.TRACEBACK, KeyError, KeyError("k"), e.__traceback__, buf2)
        assert _json.loads(buf2.getvalue()) == {}


def test_model_metadata_merged_into_build_record(spark, machine, tmp_path):
    """GordoBase.get_metadata parity: the model's own metadata (dashed
    reference keys) lands in the build record."""
    machine.model = {"kind": "DiffBasedAnomalyDetector", "window": 6}
    r = ModelBuilder(machine, ModelStore(str(tmp_path / "m"))).build(spark)
    mm = r.metadata["build-metadata"]["model"]["model-metadata"]
    assert mm["window"] == 6 and mm["smoothing-method"] == "smm"
    assert len(mm["feature-thresholds"]) == 3
    assert mm["aggregate-threshold"] > 0
    assert mm["base-estimator"]["fitted"] is True


# --------------------------------------------------------------------------
# fold-fused build: numpy/pandas oracle, cache hygiene, job budget


@pytest.fixture(scope="module")
def xy_wide(spark):
    """The ``xy`` shape of test_ml: targets t1, t2 differ from inputs a, b."""
    rng = np.random.default_rng(3)
    n = 400
    ts = pd.date_range("2019-01-01", periods=n, freq="10min")
    a, b = rng.random(n), rng.random(n)
    t1 = 2.0 * a - 1.5 * b + 0.3 + rng.normal(0, 0.01, n)
    t2 = -a + 0.5 * b + 1.0 + rng.normal(0, 0.01, n)
    pdf = pd.DataFrame({"ts": ts, "a": a, "b": b, "t1": t1, "t2": t2})
    return spark.createDataFrame(pdf), pdf


def _xy_machine(n_splits, scoring_scaler=None, scaler="minmax", base=None, n_samples_threshold=0):
    evaluation = {"cv_mode": "full_build", "n_splits": n_splits}
    if scoring_scaler:
        evaluation["scoring_scaler"] = scoring_scaler
    model = {"kind": "DiffBasedAnomalyDetector", "window": 6, "scaler": scaler}
    if base:
        model["base_estimator"] = base
    dataset = {"tag_list": ["a", "b"], "target_tag_list": ["t1", "t2"], "resolution": "10T"}
    if n_samples_threshold:
        dataset["n_samples_threshold"] = n_samples_threshold
    return Machine.from_config(
        {"name": "xy-machine", "dataset": dataset, "model": model, "evaluation": evaluation}
    )


def _center_spread(kind, v):
    """sklearn MinMaxScaler / RobustScaler centre and divisor per column."""
    if kind == "minmax":
        lo, hi = v.min(axis=0), v.max(axis=0)
        return lo, np.where(hi != lo, hi - lo, 1.0)
    q1, md, q3 = np.percentile(v, [25, 50, 75], axis=0)
    return md, np.where(q3 != q1, q3 - q1, 1.0)


def _design(lookback=None, lookahead=0):
    """Design of a block of rows in ts order -> (kept positions, [1, x...]).
    Without ``lookback`` every row and its inputs a, b; with it the
    target-keyed lags within the block: input ``c`` from ``s + lookahead``
    rows earlier for ``s < lookback``, rows without a full window dropped."""

    def design(rows):
        X = rows[["a", "b"]].to_numpy()
        if lookback is None:
            return np.arange(len(rows)), np.column_stack([np.ones(len(rows)), X])
        keep = np.arange(lookback - 1 + lookahead, len(rows))
        lags = [X[keep - lookahead - s, c] for c in range(X.shape[1]) for s in range(lookback)]
        return keep, np.column_stack([np.ones(len(keep)), *lags])

    return design


def _lstsq(A, Y):
    """(coefficients, predict) of an OLS fit."""
    coef, *_ = np.linalg.lstsq(A, Y, rcond=None)
    return coef, lambda At: At @ coef


def _fit_on(pdf, rows, design, fit):
    """``fit`` on the rows at positions ``rows`` (ts order) through ``design``."""
    keep, A = design(pdf.iloc[rows])
    return fit(A, pdf[["t1", "t2"]].to_numpy()[rows][keep])


def _predict_on(pdf, rows, design, predict):
    """(positions predicted, predictions) of the rows at ``rows``."""
    keep, A = design(pdf.iloc[rows])
    return rows[keep], predict(A)


def _oracle(pdf, n_splits, scoring_scaler, scaler, design=_design(), fit=_lstsq):
    """sklearn TimeSeriesSplit + per-fold fits + metrics + diff.py thresholds."""
    n = len(pdf)
    size = n // (n_splits + 1)
    Y = pdf[["t1", "t2"]].to_numpy()
    folds, per_fold = [], []
    for i in range(n_splits):
        end = n - (n_splits - i) * size
        tr, te = np.arange(end), np.arange(end, end + size)
        folds.append(
            {
                "fold": i,
                "train_start": pdf.ts.iloc[0], "train_end": pdf.ts.iloc[end - 1],
                "train_count": end,
                "test_start": pdf.ts.iloc[end], "test_end": pdf.ts.iloc[end + size - 1],
                "test_count": size,
            }
        )
        _, predict = _fit_on(pdf, tr, design, fit)
        kept, pred = _predict_on(pdf, te, design, predict)
        y = Y[kept]
        ys, ps = y, pred
        if scoring_scaler:
            c, s = _center_spread(scoring_scaler, Y[tr])
            ys, ps = (y - c) / s, (pred - c) / s
        d = ys - ps
        mse, mae = (d**2).mean(axis=0), np.abs(d).mean(axis=0)
        r2 = 1 - mse / ys.var(axis=0)
        ev = 1 - d.var(axis=0) / ys.var(axis=0)
        per_fold.append(np.column_stack([mse, mae, r2, ev]))
        # thresholds come from the last fold's errors (diff.py:229-264)
        err = np.abs(pred - y)
        _, spread = _center_spread(scaler, Y[tr])
        total = ((err / spread) ** 2).mean(axis=1)
    roll = lambda v: pd.Series(v).rolling(6, min_periods=6).min().max()  # noqa: E731
    params, _ = _fit_on(pdf, np.arange(n), design, fit)
    center, spread = _center_spread(scaler, Y)
    return {
        "folds": folds,
        "per_fold": per_fold,
        "tags": [roll(err[:, j]) for j in range(2)],
        "total": roll(total),
        "params": params,
        "scaler": (center, center + spread) if scaler == "minmax" else (center, spread),
    }


def _lagged(lookback=3, lookahead=1):
    return {"kind": "LaggedLinearModel", "lookback": lookback, "lookahead": lookahead}


_AUTOENCODER = {
    "kind": "PythonEstimatorModel",
    "estimator": "gordo_spark.ml.factories.AutoEncoderEstimator",
    "estimator_kwargs": {
        "kind": "feedforward_hourglass", "epochs": 5, "seed": 0, "backend": "numpy",
    },
}


def _autoencoder_fit(A, Y):
    """(weights and biases, predict) of the seeded numpy autoencoder."""
    from gordo_spark.ml.factories import AutoEncoderEstimator

    est = AutoEncoderEstimator(**_AUTOENCODER["estimator_kwargs"]).fit(A[:, 1:], Y)
    m = est.model_
    return (
        np.concatenate([w.ravel() for w in [*m.weights_, *m.biases_]]),
        lambda At: est.predict(At[:, 1:]),
    )


_RIDGE = {"kind": "RidgeModel", "alpha": 0.5}


def _ridge_fit(alpha):
    """``fit`` of sklearn ``Ridge(alpha, fit_intercept=True)``: the
    intercept is not penalized."""

    def fit(A, Y):
        reg = alpha * np.eye(A.shape[1])
        reg[0, 0] = 0.0
        coef = np.linalg.solve(A.T @ A + reg, A.T @ Y)
        return coef, lambda At: At @ coef

    return fit


def _params(base):
    """A fitted base estimator's parameters: OLS coefficients, or the
    autoencoder's weights and biases flattened."""
    if hasattr(base, "_est"):
        m = base._est.model_
        return np.concatenate([w.ravel() for w in [*m.weights_, *m.biases_]])
    return base._ols.coef_ if hasattr(base, "_ols") else base.coef_


def _assert_matches_oracle(r, exp, pdf, n_splits, thresholds=True):
    close = dict(rtol=1e-9, atol=1e-12)
    md = r.metadata["build-metadata"]
    cvm = md["model"]["cross_validation"]
    assert md["dataset"]["row_count"] == len(pdf)

    assert len(cvm["folds"]) == n_splits
    for got, want in zip(cvm["folds"], exp["folds"]):
        assert {
            k: pd.Timestamp(v) if k.endswith(("_start", "_end")) else v
            for k, v in got.items()
        } == want
    if n_splits == 3 and len(pdf) == 400:  # sklearn TimeSeriesSplit: test_size 100
        assert [f["train_count"] for f in cvm["folds"]] == [100, 200, 300]

    names = ["mean-squared-error", "mean-absolute-error", "r2-score", "explained-variance-score"]
    for got, want in zip(cvm["per_fold"], exp["per_fold"]):
        for j, t in enumerate(["t1", "t2"]):
            np.testing.assert_allclose([got[t][m] for m in names], want[j], **close)
        np.testing.assert_allclose(
            [got["aggregate"][m] for m in names], want.mean(axis=0), **close
        )
    raw = np.array([[f["aggregate"][m] for m in names] for f in cvm["per_fold"]])
    np.testing.assert_allclose(
        [cvm["scores"][m]["mean"] for m in names], raw.mean(axis=0), **close
    )

    if thresholds:
        th = md["model"]["thresholds"]
        np.testing.assert_allclose([th["tags"]["t1"], th["tags"]["t2"]], exp["tags"], **close)
        np.testing.assert_allclose(th["total"], exp["total"], **close)
    np.testing.assert_allclose(_params(r.model.base), exp["params"], **close)
    stats = r.model.scaler.stats
    np.testing.assert_allclose([stats["t1"][0], stats["t2"][0]], exp["scaler"][0], **close)
    np.testing.assert_allclose([stats["t1"][1], stats["t2"][1]], exp["scaler"][1], **close)


@pytest.mark.parametrize(
    "n_splits,scoring_scaler,scaler",
    [(2, None, "minmax"), (3, "minmax", "minmax"), (3, "robust", "robust"), (2, None, "robust")],
)
def test_fused_build_matches_numpy_oracle(spark, xy_wide, n_splits, scoring_scaler, scaler):
    wide, pdf = xy_wide
    r = ModelBuilder(
        _xy_machine(n_splits, scoring_scaler, scaler), wide_frame=wide
    ).build(spark)
    _assert_matches_oracle(r, _oracle(pdf, n_splits, scoring_scaler, scaler), pdf, n_splits)


def test_failed_build_releases_cached_frames(spark, xy_wide):
    """Too few rows for the folds raise, and so do fewer rows than
    ``n_samples_threshold``, checked before the folds; either way the
    numbered frame is released."""
    wide, _ = xy_wide
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="too few rows"):
        ModelBuilder(_xy_machine(3), wide_frame=wide.limit(3)).build(spark)
    assert jsc.getPersistentRDDs().size() == before
    machine = _xy_machine(3, n_samples_threshold=10)
    with pytest.raises(InsufficientDataError, match="3 rows after filtering < n_samples_threshold=10"):
        ModelBuilder(machine, wide_frame=wide.limit(3)).build(spark)
    assert jsc.getPersistentRDDs().size() == before


def test_solo_build_job_budget(spark, xy_wide, job_count):
    """A DiffBasedAnomalyDetector(LinearModel) machine: one aggregation fits
    every fold, one more scores them and takes the thresholds. The
    ``n_samples_threshold`` check reads that aggregation's row count."""
    wide, _ = xy_wide
    jobs = {}
    for threshold in (0, 300):
        build = ModelBuilder(_xy_machine(3, n_samples_threshold=threshold), wide_frame=wide).build
        jobs[threshold] = job_count(f"solo-build-{threshold}", lambda: build(spark))  # noqa: B023
    # 3 jobs for the fit aggregation (input, numbering, grouping), 1 to
    # score; features and targets are one projection, so no X/y join
    assert jobs[0] <= 4
    assert jobs[300] == jobs[0]


def test_nonfinite_rows_are_dropped_before_numbering(spark, xy_wide):
    """A row with an inf feature or a NaN target is not trained on: the
    build is the oracle's over the other rows, thresholds finite."""
    _, pdf = xy_wide
    bad = pdf.copy()
    bad.loc[50, "a"] = np.inf
    bad.loc[120, "t1"] = np.nan
    r = ModelBuilder(_xy_machine(3), wide_frame=spark.createDataFrame(bad)).build(spark)
    kept = pdf.drop(index=[50, 120]).reset_index(drop=True)
    _assert_matches_oracle(r, _oracle(kept, 3, None, "minmax"), kept, 3)


def test_non_finite_coefficients_raise(spark, xy_wide):
    """A finite reading whose square overflows makes the Gram matrix
    infinite: the build raises NonFiniteError and releases its frame."""
    _, pdf = xy_wide
    huge = pdf.copy()
    huge.loc[50, "a"] = 1e200
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(NonFiniteError, match="coefficients"):
        ModelBuilder(_xy_machine(3), wide_frame=spark.createDataFrame(huge)).build(spark)
    assert jsc.getPersistentRDDs().size() == before


# --------------------------------------------------------------------------
# KFold CV (DiffBasedKFCVAnomalyDetector) on the same fold engine


def _kfcv(membership="shuffle", scaler="minmax", base=None, n_splits=3):
    model = {
        "kind": "DiffBasedKFCVAnomalyDetector", "window": 6, "n_splits": n_splits,
        "scaler": scaler, "fold_membership": membership,
    }
    if base:
        model["base_estimator"] = base
    return model


def _kfcv_machine(membership="shuffle", scaler="minmax", base=None, n_splits=3):
    return dataclasses.replace(
        _xy_machine(3), model=_kfcv(membership, scaler, base, n_splits)
    )


def _kfcv_oracle(pdf, k, membership, scaler, design=_design()):
    """sklearn KFold + lstsq fold fits + diff.py KFCV thresholds: smm
    smoothing of the out-of-fold errors, then their 0.99 quantile."""
    n = len(pdf)
    fold = sklearn_kfold_membership(n, k) if membership == "shuffle" else np.arange(n) % k
    Y = pdf[["t1", "t2"]].to_numpy()
    err, total = np.full_like(Y, np.nan), np.full(n, np.nan)
    for f in range(k):
        tr, te = np.flatnonzero(fold != f), np.flatnonzero(fold == f)
        _, predict = _fit_on(pdf, tr, design, _lstsq)
        kept, pred = _predict_on(pdf, te, design, predict)
        err[kept] = np.abs(pred - Y[kept])
        _, spread = _center_spread(scaler, Y[tr])
        total[kept] = ((err[kept] / spread) ** 2).mean(axis=1)
    oof = ~np.isnan(total)  # an offset model predicts no row without a full window
    th = lambda v: pd.Series(v).rolling(6, min_periods=6).median().quantile(0.99)  # noqa: E731
    return [th(err[oof, 0]), th(err[oof, 1])], th(total[oof])


@pytest.mark.parametrize(
    "split,scaler,base,design,fit",
    [
        *[
            pytest.param(m, s, None, _design(), _lstsq, id=f"{m}-{s}")
            for m in ("shuffle", "modulo")
            for s in ("minmax", "robust")
        ],
        pytest.param("tss", "minmax", None, _design(), _lstsq, id="tss-linear"),
        pytest.param("tss", "minmax", _RIDGE, _design(), _ridge_fit(0.5), id="tss-ridge"),
        pytest.param("tss", "minmax", _lagged(3, 1), _design(3, 1), _lstsq, id="tss-lagged-3-1"),
        pytest.param("tss", "minmax", _AUTOENCODER, _design(), _autoencoder_fit, id="tss-autoencoder"),
    ],
)
def test_kfcv_thresholds_match_numpy_oracle(spark, xy_wide, split, scaler, base, design, fit):
    """The builder and ``cross_validate`` train through the same routine and
    give the oracle's thresholds: a KFold detector's from its own KFold CV,
    a TimeSeriesSplit detector's from the last of its folds."""
    wide, pdf = xy_wide
    if split == "tss":
        machine = _xy_machine(3, base=base)
        exp = _oracle(pdf, 3, None, scaler, design, fit)
        tags, total = exp["tags"], exp["total"]
    else:
        machine = _kfcv_machine(split, scaler)
        tags, total = _kfcv_oracle(pdf, 3, split, scaler, design)
    close = dict(rtol=1e-9, atol=0)
    th = ModelBuilder(machine, wide_frame=wide).build(
        spark
    ).metadata["build-metadata"]["model"]["thresholds"]
    np.testing.assert_allclose([th["tags"]["t1"], th["tags"]["t2"]], tags, **close)
    np.testing.assert_allclose(th["total"], total, **close)

    det = model_from_definition(machine.model)
    det.cross_validate(wide.select("ts", "a", "b"), wide.select("ts", "t1", "t2"), 3)
    got = [det.tag_thresholds_["t1"], det.tag_thresholds_["t2"], det.total_threshold_]
    np.testing.assert_allclose(got, [*tags, total], **close)
    np.testing.assert_allclose(got, [th["tags"]["t1"], th["tags"]["t2"], th["total"]], rtol=1e-12)


def test_kfcv_runs_the_models_own_fold_count(spark, xy_wide):
    """The model's ``n_splits`` sets the KFold folds, not the evaluation's."""
    wide, pdf = xy_wide
    machine = _kfcv_machine(n_splits=4)
    assert machine.evaluation["n_splits"] == 3
    th = ModelBuilder(machine, wide_frame=wide).build(spark).metadata["build-metadata"][
        "model"
    ]["thresholds"]
    tags, total = _kfcv_oracle(pdf, 4, "shuffle", "minmax")
    close = dict(rtol=1e-9, atol=0)
    np.testing.assert_allclose([th["tags"]["t1"], th["tags"]["t2"]], tags, **close)
    np.testing.assert_allclose(th["total"], total, **close)


def test_kfcv_too_few_rows_releases_cached_frames(spark, xy_wide):
    wide, _ = xy_wide
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    small = wide.limit(2)
    det = model_from_definition(_kfcv())
    with pytest.raises(ValueError, match="too few rows"):
        det.cross_validate(small.select("ts", "a", "b"), small.select("ts", "t1", "t2"))
    assert jsc.getPersistentRDDs().size() == before


def test_kfcv_build_job_budget(spark, xy_wide, job_count):
    """KFold thresholds run on the fold engine: one aggregation fits every
    fold, one more takes the smoothed out-of-fold quantiles."""
    wide, _ = xy_wide
    build = ModelBuilder(_kfcv_machine(), wide_frame=wide).build
    jobs = job_count("kfcv-build", lambda: build(spark))
    # 4 jobs for the TimeSeriesSplit fit and scores, 3 for the KFold fit
    # aggregation (the broadcast fold map, the numbering, the grouping), 1
    # for the threshold quantiles; the sklearn shuffle takes its row count
    # from the TimeSeriesSplit aggregation, so no count() runs
    assert jobs <= 8


# --------------------------------------------------------------------------
# bases without sufficient statistics on the same fold engine


@pytest.mark.parametrize("lookback,lookahead", [(3, 1), (2, 0)])
@pytest.mark.parametrize("split", ["tss-2", "tss-3", "kfold-shuffle", "kfold-modulo"])
def test_lagged_build_matches_numpy_oracle(spark, xy_wide, split, lookback, lookahead):
    """Per-fold lstsq over target-keyed lags, computed within each fit's
    rows and within each test block."""
    wide, pdf = xy_wide
    base, design = _lagged(lookback, lookahead), _design(lookback, lookahead)
    kind, arg = split.split("-")
    if kind == "tss":
        n_splits = int(arg)
        r = ModelBuilder(_xy_machine(n_splits, base=base), wide_frame=wide).build(spark)
        _assert_matches_oracle(r, _oracle(pdf, n_splits, None, "minmax", design), pdf, n_splits)
        return
    r = ModelBuilder(_kfcv_machine(arg, base=base), wide_frame=wide).build(spark)
    # scores and the final fit come from the evaluation's TimeSeriesSplit
    _assert_matches_oracle(
        r, _oracle(pdf, 3, None, "minmax", design), pdf, 3, thresholds=False
    )
    tags, total = _kfcv_oracle(pdf, 3, arg, "minmax", design)
    th = r.metadata["build-metadata"]["model"]["thresholds"]
    close = dict(rtol=1e-9, atol=0)
    np.testing.assert_allclose([th["tags"]["t1"], th["tags"]["t2"]], tags, **close)
    np.testing.assert_allclose(th["total"], total, **close)


@pytest.mark.parametrize("n_splits", [2, 3])
def test_autoencoder_build_matches_per_fold_oracle(spark, xy_wide, n_splits):
    """Each fold's seeded numpy autoencoder trains on its train rows in ts
    order, as when fitted alone."""
    wide, pdf = xy_wide
    r = ModelBuilder(_xy_machine(n_splits, base=_AUTOENCODER), wide_frame=wide).build(spark)
    exp = _oracle(pdf, n_splits, None, "minmax", fit=_autoencoder_fit)
    _assert_matches_oracle(r, exp, pdf, n_splits)


@pytest.mark.parametrize("n_splits", [2, 4])
@pytest.mark.parametrize(
    "case,budget", [("lagged", 6), ("autoencoder", 6), ("lagged-kfcv", 11)]
)
def test_row_fit_build_job_budget(spark, xy_wide, job_count, case, budget, n_splits):
    """Bases without sufficient statistics fit every fold in one grouped
    pass and predict every fold in one more: the jobs do not grow with
    the folds."""
    wide, _ = xy_wide
    if case == "lagged-kfcv":
        machine = _kfcv_machine(base=_lagged(), n_splits=n_splits)
    else:
        machine = _xy_machine(n_splits, base=_lagged() if case == "lagged" else _AUTOENCODER)
    machine.evaluation["n_splits"] = n_splits
    build = ModelBuilder(machine, wide_frame=wide).build
    jobs = job_count(f"{case}-build-{n_splits}", lambda: build(spark))
    # 3 jobs for the grouped fold metadata, 1 for every fold fit, 1 to
    # predict and score every fold, 1 for the final fit; KFold adds 3 for
    # its fold metadata (broadcast fold map, numbering, grouping), 1 for
    # its fold fits and 1 for the threshold quantiles
    assert jobs <= budget


def test_build_machines_releases_shared_scans(spark, machine):
    """The shared scan ``build_machines`` caches is released when the
    builds return, and when one of them raises."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    twin = Machine.from_config({**machine.to_dict(), "name": "twin-machine"})
    build_machines(spark, [machine, twin], max_workers=2)
    assert jsc.getPersistentRDDs().size() == before
    twin.dataset = {**twin.dataset, "n_samples_threshold": 10_000_000}
    with pytest.raises(Exception, match="samples"):
        build_machines(spark, [machine, twin], max_workers=2)
    assert jsc.getPersistentRDDs().size() == before


def test_get_spark_turns_call_site_capture_off(spark):
    """PySpark API calls skip DataFrame call-site capture (session.py)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def _count_scans(monkeypatch, delay_s=0.0):
    """The datasets whose scan -> resample prefix is planned from now on;
    ``delay_s`` holds each planning open that long."""
    import time

    scans = []
    original = TimeSeriesDataset.long_resampled

    def counted(self, spark):
        scans.append(self)
        time.sleep(delay_s)
        return original(self, spark)

    monkeypatch.setattr(TimeSeriesDataset, "long_resampled", counted)
    return scans


def _twin(machine, name="twin-machine", **dataset):
    twin = Machine.from_config({**machine.to_dict(), "name": name})
    twin.dataset = {**twin.dataset, **dataset}
    return twin


def test_cached_rebuild_plans_and_scans_nothing(spark, machine, tmp_path, job_count, monkeypatch):
    """A machine looks up its frame only after its cache check misses, so
    a fully cached rebuild plans no scan and runs no Spark job (planning
    every frame up front ran the 2 parquet schema jobs of its scans)."""
    # two machines sharing one scan and one starting off the 1H grid (solo)
    fleet = [machine, _twin(machine), _twin(machine, "solo", train_start_date="2024-01-02 00:30:00")]
    store = ModelStore(str(tmp_path / "models"))
    registry = DiskRegistry(str(tmp_path / "registry"))
    scans = _count_scans(monkeypatch)
    build = lambda: build_machines(spark, fleet, store, registry, max_workers=3)  # noqa: E731
    results = {}
    assert job_count("cold-fleet", lambda: results.update(build())) > 0
    assert len(scans) == 2
    assert not any(r.cached for r in results.values())
    assert len(store.revisions()) == 1  # one revision per call
    scans.clear()
    assert job_count("cached-fleet", lambda: results.update(build())) == 0
    assert scans == []
    assert len(results) == 3 and all(r.cached for r in results.values())


def test_shared_scan_planned_once_under_concurrent_lookups(spark, machine, monkeypatch):
    """Build threads looking up a shared group's frames at the same time
    plan its scan once; nothing is planned before the lookups."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from gordo_spark.plans import multi

    datasets = {m.name: dataset_from_dict(m.dataset) for m in (machine, _twin(machine))}
    scans = _count_scans(monkeypatch, delay_s=0.5)
    frames = multi.shared_wide_frames(spark, datasets)
    assert set(frames) == set(datasets) and scans == []
    names = list(datasets) * 4  # more threads than cores
    barrier = threading.Barrier(len(names))

    def lookup(name):
        barrier.wait(timeout=60)
        return frames[name]

    interval = sys.getswitchinterval()
    try:
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(len(names)) as pool:
                list(pool.map(lookup, names, timeout=120))
        finally:
            sys.setswitchinterval(interval)
        assert len(scans) == 1
        counts = [frames[n].count() for n in datasets]
    finally:
        frames.release()
    assert counts == [ds.wide_frame(spark).count() for ds in datasets.values()]


def test_build_machines_calls_shared_wide_frames_once(spark, machine, tmp_path, monkeypatch):
    """fleetbench's traced run wraps ``plans.multi.shared_wide_frames`` on
    its module and reads the spans of the cached rebuild, so every
    ``build_machines`` call, cold or cached, goes through it once."""
    import functools

    from gordo_spark.plans import multi

    calls = []
    original = multi.shared_wide_frames

    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        calls.append(args)
        return original(*args, **kwargs)

    monkeypatch.setattr(multi, "shared_wide_frames", wrapper)
    store = ModelStore(str(tmp_path / "models"))
    registry = DiskRegistry(str(tmp_path / "registry"))
    fleet = [machine, _twin(machine)]
    cold = build_machines(spark, fleet, store, registry, max_workers=2)
    assert len(calls) == 1 and not any(r.cached for r in cold.values())
    cached = build_machines(spark, fleet, store, registry, max_workers=2)
    assert len(calls) == 2 and all(r.cached for r in cached.values())


def test_failing_machine_does_not_stop_the_fleet(spark, machine, tmp_path):
    """A machine under its n_samples_threshold fails alone: its twin is
    built and registered, then one error names the failed machine."""
    from gordo_spark.operators.filters import InsufficientDataError

    store = ModelStore(str(tmp_path / "models"))
    registry = DiskRegistry(str(tmp_path / "registry"))
    twin = _twin(machine, n_samples_threshold=10_000_000)
    with pytest.raises(ExceptionGroup, match="1 of 2 machines failed: twin-machine") as err:
        build_machines(spark, [machine, twin], store, registry, max_workers=2)
    assert [type(e) for e in err.value.exceptions] == [InsufficientDataError]
    assert "test-machine" not in str(err.value)
    rev = registry.get_value(ModelBuilder(machine).cache_key)
    assert rev == store.latest_revision()
    _, metadata = store.load(machine.name, rev)
    assert metadata["name"] == machine.name
    assert registry.get_value(ModelBuilder(twin).cache_key) is None


def test_lagged_build_on_dotted_tags(spark, xy_wide):
    """Dotted tag names build the same Lagged model as plain ones: the
    fit's null filter reads ``a.b__lag0`` as one column, not a field."""
    wide, _ = xy_wide
    names = {"a": "a.b", "b": "c", "t1": "t.1", "t2": "t2"}
    dotted_wide = wide.select("ts", *[wide[k].alias(v) for k, v in names.items()])
    plain = _xy_machine(3, base=_lagged())
    dotted = dataclasses.replace(
        plain, dataset={**plain.dataset, "tag_list": ["a.b", "c"], "target_tag_list": ["t.1", "t2"]}
    )
    got = ModelBuilder(dotted, wide_frame=dotted_wide).build(spark)
    want = ModelBuilder(plain, wide_frame=wide).build(spark)
    assert got.model.base.feature_cols == ["a.b", "c"]
    np.testing.assert_array_equal(got.model.base._ols.coef_, want.model.base._ols.coef_)
    th_got = got.metadata["build-metadata"]["model"]["thresholds"]
    th_want = want.metadata["build-metadata"]["model"]["thresholds"]
    assert list(th_got["tags"]) == ["t.1", "t2"]
    assert [*th_got["tags"].values(), th_got["total"]] == [*th_want["tags"].values(), th_want["total"]]
