"""End-to-end builder lifecycle tests (reference gordo build parity,
SURVEY.md §3.1): config -> data -> CV -> fit -> persist -> cache hit."""

import dataclasses

import numpy as np
import pandas as pd
import pytest

from gordo_spark.builder import ModelBuilder, build_machines, dataset_from_dict
from gordo_spark.config import Machine
from gordo_spark.ml.cv import sklearn_kfold_membership
from gordo_spark.ml.models import model_from_definition
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


def test_build_lagged_model_machine(spark, machine, tmp_path):
    """Offset models flow through fold scoring (predict-join path) and
    anomaly-threshold CV now."""
    from gordo_spark.builder import ModelBuilder

    machine.model = {
        "kind": "DiffBasedAnomalyDetector",
        "window": 6,
        "base_estimator": {"kind": "LaggedLinearModel", "lookback": 3, "lookahead": 1},
    }
    r = ModelBuilder(machine).build(spark)
    md = r.metadata["build-metadata"]["model"]
    assert len(md["cross_validation"]["scores"]["r2-score"]["raw"]) == 3
    th = md["thresholds"]
    assert th["total"] is not None and th["total"] >= 0
    assert r.model.base.offset == 3


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


def _xy_machine(n_splits, scoring_scaler=None, scaler="minmax"):
    evaluation = {"cv_mode": "full_build", "n_splits": n_splits}
    if scoring_scaler:
        evaluation["scoring_scaler"] = scoring_scaler
    return Machine.from_config(
        {
            "name": "xy-machine",
            "dataset": {
                "tag_list": ["a", "b"],
                "target_tag_list": ["t1", "t2"],
                "resolution": "10T",
            },
            "model": {"kind": "DiffBasedAnomalyDetector", "window": 6, "scaler": scaler},
            "evaluation": evaluation,
        }
    )


def _center_spread(kind, v):
    """sklearn MinMaxScaler / RobustScaler centre and divisor per column."""
    if kind == "minmax":
        lo, hi = v.min(axis=0), v.max(axis=0)
        return lo, np.where(hi != lo, hi - lo, 1.0)
    q1, md, q3 = np.percentile(v, [25, 50, 75], axis=0)
    return md, np.where(q3 != q1, q3 - q1, 1.0)


def _oracle(pdf, n_splits, scoring_scaler, scaler):
    """sklearn TimeSeriesSplit + lstsq fits + metrics + diff.py thresholds."""
    n = len(pdf)
    size = n // (n_splits + 1)
    A = np.column_stack([np.ones(n), pdf["a"], pdf["b"]])
    Y = pdf[["t1", "t2"]].to_numpy()
    folds, per_fold = [], []
    for i in range(n_splits):
        end = n - (n_splits - i) * size
        tr, te = slice(0, end), slice(end, end + size)
        folds.append(
            {
                "fold": i,
                "train_start": pdf.ts.iloc[0], "train_end": pdf.ts.iloc[end - 1],
                "train_count": end,
                "test_start": pdf.ts.iloc[end], "test_end": pdf.ts.iloc[end + size - 1],
                "test_count": size,
            }
        )
        coef, *_ = np.linalg.lstsq(A[tr], Y[tr], rcond=None)
        pred, y = A[te] @ coef, Y[te]
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
    coef, *_ = np.linalg.lstsq(A, Y, rcond=None)
    center, spread = _center_spread(scaler, Y)
    return {
        "folds": folds,
        "per_fold": per_fold,
        "tags": [roll(err[:, j]) for j in range(2)],
        "total": roll(total),
        "coef": coef,
        "scaler": (center, center + spread) if scaler == "minmax" else (center, spread),
    }


@pytest.mark.parametrize(
    "n_splits,scoring_scaler,scaler",
    [(2, None, "minmax"), (3, "minmax", "minmax"), (3, "robust", "robust"), (2, None, "robust")],
)
def test_fused_build_matches_numpy_oracle(spark, xy_wide, n_splits, scoring_scaler, scaler):
    wide, pdf = xy_wide
    r = ModelBuilder(
        _xy_machine(n_splits, scoring_scaler, scaler), wide_frame=wide
    ).build(spark)
    exp = _oracle(pdf, n_splits, scoring_scaler, scaler)
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
    if n_splits == 3:  # sklearn TimeSeriesSplit on 400 rows: test_size 100
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

    th = md["model"]["thresholds"]
    np.testing.assert_allclose([th["tags"]["t1"], th["tags"]["t2"]], exp["tags"], **close)
    np.testing.assert_allclose(th["total"], exp["total"], **close)
    np.testing.assert_allclose(r.model.base.coef_, exp["coef"], **close)
    stats = r.model.scaler.stats
    np.testing.assert_allclose([stats["t1"][0], stats["t2"][0]], exp["scaler"][0], **close)
    np.testing.assert_allclose([stats["t1"][1], stats["t2"][1]], exp["scaler"][1], **close)


def test_failed_build_releases_cached_frames(spark, xy_wide):
    wide, _ = xy_wide
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="too few rows"):
        ModelBuilder(_xy_machine(3), wide_frame=wide.limit(3)).build(spark)
    assert jsc.getPersistentRDDs().size() == before


def _job_count(spark, group, fn):
    """Spark jobs that ``fn()`` launches, counted through the job group
    ``group`` (one name per count: the tracker keeps a group's old jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_solo_build_job_budget(spark, xy_wide):
    """A DiffBasedAnomalyDetector(LinearModel) machine: one aggregation fits
    every fold, one more scores them and takes the thresholds."""
    wide, _ = xy_wide
    build = ModelBuilder(_xy_machine(3), wide_frame=wide).build
    jobs = _job_count(spark, "solo-build", lambda: build(spark))
    # 3 jobs for the fit aggregation (input, numbering, grouping), 1 to
    # score; features and targets are one projection, so no X/y join
    assert jobs <= 4


# --------------------------------------------------------------------------
# KFold CV (DiffBasedKFCVAnomalyDetector) on the same fold engine


def _kfcv(membership="shuffle", scaler="minmax"):
    return {
        "kind": "DiffBasedKFCVAnomalyDetector", "window": 6, "n_splits": 3,
        "scaler": scaler, "fold_membership": membership,
    }


def _kfcv_machine(membership="shuffle", scaler="minmax"):
    return dataclasses.replace(_xy_machine(3), model=_kfcv(membership, scaler))


def _kfcv_oracle(pdf, k, membership, scaler):
    """sklearn KFold + lstsq fold fits + diff.py KFCV thresholds: smm
    smoothing of the out-of-fold errors, then their 0.99 quantile."""
    n = len(pdf)
    fold = sklearn_kfold_membership(n, k) if membership == "shuffle" else np.arange(n) % k
    A = np.column_stack([np.ones(n), pdf["a"], pdf["b"]])
    Y = pdf[["t1", "t2"]].to_numpy()
    err, total = np.empty_like(Y), np.empty(n)
    for f in range(k):
        tr, te = fold != f, fold == f
        coef, *_ = np.linalg.lstsq(A[tr], Y[tr], rcond=None)
        err[te] = np.abs(A[te] @ coef - Y[te])
        _, spread = _center_spread(scaler, Y[tr])
        total[te] = ((err[te] / spread) ** 2).mean(axis=1)
    th = lambda v: pd.Series(v).rolling(6, min_periods=6).median().quantile(0.99)  # noqa: E731
    return [th(err[:, 0]), th(err[:, 1])], th(total)


@pytest.mark.parametrize("scaler", ["minmax", "robust"])
@pytest.mark.parametrize("membership", ["shuffle", "modulo"])
def test_kfcv_thresholds_match_numpy_oracle(spark, xy_wide, membership, scaler):
    wide, pdf = xy_wide
    tags, total = _kfcv_oracle(pdf, 3, membership, scaler)
    close = dict(rtol=1e-9, atol=0)
    th = ModelBuilder(_kfcv_machine(membership, scaler), wide_frame=wide).build(
        spark
    ).metadata["build-metadata"]["model"]["thresholds"]
    np.testing.assert_allclose([th["tags"]["t1"], th["tags"]["t2"]], tags, **close)
    np.testing.assert_allclose(th["total"], total, **close)

    det = model_from_definition(_kfcv(membership, scaler))
    det.cross_validate(wide.select("ts", "a", "b"), wide.select("ts", "t1", "t2"))
    np.testing.assert_allclose([det.tag_thresholds_["t1"], det.tag_thresholds_["t2"]], tags, **close)
    np.testing.assert_allclose(det.total_threshold_, total, **close)


def test_kfcv_too_few_rows_releases_cached_frames(spark, xy_wide):
    wide, _ = xy_wide
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    small = wide.limit(2)
    det = model_from_definition(_kfcv())
    with pytest.raises(ValueError, match="too few rows"):
        det.cross_validate(small.select("ts", "a", "b"), small.select("ts", "t1", "t2"))
    assert jsc.getPersistentRDDs().size() == before


def test_kfcv_build_job_budget(spark, xy_wide):
    """KFold thresholds run on the fold engine: one aggregation fits every
    fold, one more takes the smoothed out-of-fold quantiles."""
    wide, _ = xy_wide
    build = ModelBuilder(_kfcv_machine(), wide_frame=wide).build
    jobs = _job_count(spark, "kfcv-build", lambda: build(spark))
    # 4 jobs for the TimeSeriesSplit fit and scores, 1 to count the rows
    # for the sklearn shuffle, 2 for the KFold fit aggregation, 2 for the
    # threshold quantiles
    assert jobs <= 9
