"""M1/M2/M5/M6/M8 — deterministic models + the diff-based anomaly detector.

The reference's oracle-friendly base estimator is
``MultiOutputRegressor(LinearRegression)``
(tests/gordo/machine/model/anomaly/test_anomaly_detectors.py:44-51 in
/root/reference); its production models are Keras autoencoders built by a
registry (gordo/machine/model/factories/*). Here:

- ``LinearModel`` — exact multi-output OLS. The sufficient statistics
  (X'X, X'y with intercept) are computed as ONE Spark aggregation over the
  training frame (p = #tags is small, so the Gram matrix is tiny); the
  (p+1)x(p+1) solve happens on the driver with numpy; its outputs are pure
  column expressions. Fully distributed fit, codegen'd scoring, zero UDFs.
- every ``fit(X, y)`` and ``cross_validate(X, y)`` runs the builder's
  training routine, ``ml.cv.train`` (``train_xy``).
- one scoring method per base model: ``outputs(frame, key, models,
  prefix)`` appends ``<prefix><t>`` per target to every column of
  ``frame``, each row scored by ``models[row[key]]`` (by the model itself
  when ``key`` is None). ``predict``, the fold engine's predictions
  (``ml.cv.FoldCV``), the detector's ``anomaly`` and the streaming select
  all score through it. A served model keeps the Column lists of its own
  ``outputs``, ``predict`` and ``anomaly`` (``Projections``), so serving a
  request only binds them to the request's frame.
- ``DiffBasedAnomalyDetector`` — reference diff.py semantics: fit base
  estimator, scaler fit on y after training, TimeSeriesSplit CV with
  thresholds from the LAST fold's rolling(6).min().max() (diff.py:229-264 —
  deliberately the last fold, not an aggregate), anomaly() emitting the full
  column block (``anomaly_frame`` over the base model's ``outputs``). Its KFold
  variant ``DiffBasedKFCVAnomalyDetector`` runs on the same ``ml.cv`` fold
  engine.
- model registry (``register_model``) mirroring the reference's
  ``register_model_builder`` extension point (gordo/machine/model/register.py).
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Mapping, Sequence
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from gordo_spark.ml.scalers import MinMaxScalerExpr, RobustScalerExpr, _q, center_spread
from gordo_spark.operators.anomaly import anomaly_projection

_MODEL_REGISTRY: dict[str, type] = {}
FIT = "_fit"  # the fit a row trains, where several models fit at once


def register_model(kind: str):
    def deco(cls):
        _MODEL_REGISTRY[kind] = cls
        return cls

    return deco


def model_from_definition(d: dict):
    """Declarative def -> model tree. Nested dicts carrying a ``kind`` key
    instantiate recursively — the reference's from_definition builds whole
    sklearn estimator trees this way (gordo/serializer/from_definition.py:
    23-66,138-250 in /root/reference)."""
    d = dict(d)
    kind = d.pop("kind")
    if kind in _MODEL_REGISTRY:
        cls = _MODEL_REGISTRY[kind]
    elif "." in kind:
        # reference parity: any importable module.Class is a valid kind
        # (gordo/serializer/from_definition.py:138-250 in /root/reference)
        import importlib

        mod_name, _, cls_name = kind.rpartition(".")
        try:
            cls = getattr(importlib.import_module(mod_name), cls_name)
        except (ImportError, AttributeError) as exc:
            raise ValueError(f"cannot import model kind {kind!r}: {exc}") from exc
    else:
        raise ValueError(f"unknown model kind {kind!r}")
    kwargs = {
        k: (
            model_from_definition(v)
            # *_kwargs dicts are opaque constructor parameters (e.g.
            # estimator_kwargs carrying a factory `kind`), never nested
            # model definitions
            if isinstance(v, dict) and "kind" in v and not k.endswith("_kwargs")
            else v
        )
        for k, v in d.items()
    }
    return cls(**kwargs)


def model_into_definition(model) -> dict:
    """Model tree -> fully-materialized def dict (the reference's
    into_definition, used to persist the *effective* config including
    defaults, gordo/serializer/into_definition.py:12-66). Round-trips with
    model_from_definition."""
    return model.into_definition()


def with_targets(
    X: DataFrame, y: DataFrame, targets: Sequence[str], ts_col: str = "ts"
) -> DataFrame:
    """X joined on ts to y's ``targets``, renamed ``_yt_<t>`` so targets
    that are also inputs stay unambiguous — the one place a separate X and
    y become one training frame."""
    return X.join(y.select(ts_col, *[_q(t).alias(f"_yt_{t}") for t in targets]), ts_col)


def train_xy(model, X: DataFrame, y: DataFrame, n_splits: int = 0, refit: bool = True, ts_col: str = "ts"):
    """``ml.cv.train`` over X joined to y; features and targets default to
    the columns of X and of y."""
    from gordo_spark.ml.cv import train

    base = getattr(model, "base", model)
    feats = base.feature_cols or [c for c in X.columns if c != ts_col]
    targets = base.target_cols or [c for c in y.columns if c != ts_col]
    frame = with_targets(X, y, targets, ts_col)
    train(model, frame, feats, targets, n_splits, refit=refit, ts_col=ts_col)
    return model


class NonFiniteError(ValueError):
    """A fitted coefficient, scaler stat or threshold came out NaN or ±inf."""


def require_finite(what: str, values) -> None:
    """Raise ``NonFiniteError`` unless each of ``values`` is None or finite."""
    bad = [v for v in values if v is not None and not np.isfinite(v)]
    if bad:
        raise NonFiniteError(f"{len(bad)} non-finite {what}, e.g. {bad[0]}")


def keyed(key: str | None, values: Mapping) -> Column:
    """``values[g]`` on the rows whose ``key`` is ``g``; the one value when
    ``key`` is None."""
    if key is None:
        (value,) = values.values()
        return value
    (g, v), *rest = values.items()
    out = F.when(F.col(key) == g, v)
    for g, v in rest:
        out = out.when(F.col(key) == g, v)
    return out


class Projections:
    """Column lists a served model keeps and applies to every frame it
    scores: a Column is an unresolved expression that binds to whichever
    frame selects it, so after ``keep_projections`` a model builds each list
    on its first request, not on every one. Only a model that is scored and
    never refit keeps them (serving keeps its loaded models'); any other
    model builds its lists per call, and pickles leave them out."""

    def keep_projections(self) -> None:
        self._projections = {}

    def _projection(self, key: Hashable, build: Callable[[], object]):
        kept = self.__dict__.get("_projections")
        if kept is None:
            return build()
        if key not in kept:
            kept[key] = build()
        return kept[key]

    def __getstate__(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if k != "_projections"}


class BaseModel(Projections):
    """What every base model shares: ``outputs`` is its one scoring method,
    and ``predict`` is its view keyed by ts."""

    def predict(self, X: DataFrame, ts_col: str = "ts", prefix: str = "model_output__") -> DataFrame:
        """``ts_col`` and the model output per target, keyed by the TARGET
        timestamp (a lookback model emits ``offset`` rows fewer)."""
        cols = self._projection(
            ("predict", ts_col, prefix),
            lambda: [F.col(ts_col), *[_q(f"{prefix}{t}") for t in self.target_cols]],
        )
        return self.outputs(X, prefix=prefix, ts_col=ts_col).select(*cols)


def gram_aggs(feats: Sequence[str], ys: Sequence[str]) -> list[Column]:
    """Sufficient statistics of an OLS fit with intercept as aggregate
    columns: the upper triangle of X'X (``_xx_i_j``, term 0 the intercept)
    and X'y (``_xy_i_j``). Sums, so they add up across row groups."""
    terms = [F.lit(1.0)] + [_q(c) for c in feats]
    aggs = []
    for i, a in enumerate(terms):
        for j in range(i, len(terms)):
            aggs.append(F.sum(a * terms[j]).alias(f"_xx_{i}_{j}"))
    for i, a in enumerate(terms):
        for j, c in enumerate(ys):
            aggs.append(F.sum(a * _q(c)).alias(f"_xy_{i}_{j}"))
    return aggs


def gram_blocks(row, n_feats: int, n_ys: int) -> tuple[np.ndarray, np.ndarray]:
    """(X'X, X'y) as arrays from a row carrying ``gram_aggs``."""
    p = n_feats + 1
    xtx = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            xtx[i, j] = xtx[j, i] = row[f"_xx_{i}_{j}"]
    xty = np.array([[row[f"_xy_{i}_{j}"] for j in range(n_ys)] for i in range(p)])
    return xtx, xty


@register_model("LinearModel")
class LinearModel(BaseModel):
    """Exact multi-output OLS with intercept; fit = one Spark aggregation."""

    def __init__(self, feature_cols: Sequence[str] | None = None, target_cols: Sequence[str] | None = None):
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.target_cols = list(target_cols) if target_cols else None
        self.coef_: np.ndarray | None = None  # shape (p+1, m), row 0 = intercept

    def fit(self, X: DataFrame, y: DataFrame, ts_col: str = "ts") -> "LinearModel":
        return train_xy(self, X, y, ts_col=ts_col)

    def _solve(self, xtx: np.ndarray, xty: np.ndarray) -> np.ndarray:
        coef = np.linalg.solve(xtx, xty)
        require_finite("coefficients", coef.ravel())
        return coef

    def _output_columns(self) -> list[Column]:
        cols = []
        for j in range(len(self.target_cols)):
            e = F.lit(float(self.coef_[0, j]))
            for i, f in enumerate(self.feature_cols):
                e = e + F.lit(float(self.coef_[i + 1, j])) * _q(f)
            cols.append(e)
        return cols

    def outputs(
        self, frame: DataFrame, key: str | None = None, models: Mapping | None = None,
        prefix: str = "model_output__", ts_col: str = "ts",
    ) -> DataFrame:
        """``frame`` plus ``<prefix><t>`` per target in one projection, each
        row's output that of ``models[row[key]]`` (this model, whose Columns
        it keeps, when ``models`` is None)."""

        def columns() -> list[Column]:
            exprs = {g: m._output_columns() for g, m in (models or {None: self}).items()}
            return [
                keyed(key, {g: e[j] for g, e in exprs.items()}).alias(f"{prefix}{t}")
                for j, t in enumerate(self.target_cols)
            ]

        cols = columns() if models else self._projection(("outputs", key, prefix), columns)
        return frame.select("*", *cols)

    def group_aggs(self, feats: Sequence[str], ys: Sequence[str]) -> list[Column]:
        return gram_aggs(feats, ys)

    def fit_folds(self, cv, fits: Sequence[tuple[int, ...]], models: Sequence) -> None:
        """``models[i]`` fit on the Gram blocks of groups ``fits[i]``,
        summed in group order (never total minus a block: it cancels)."""
        p, m = len(cv.feats), len(cv.targets)
        blocks = {g: gram_blocks(r, p, m) for g, r in cv.groups.items()}
        for model, fit in zip(models, fits):
            xtx, xty = reduce(lambda a, b: (a[0] + b[0], a[1] + b[1]), [blocks[g] for g in fit])
            model.coef_ = model._solve(xtx, xty)

    @property
    def offset(self) -> int:
        """M8 — row offset between input and output (0: no lookback)."""
        return 0

    def get_metadata(self) -> dict:
        """GordoBase.get_metadata surface (the reference merges every
        model's metadata into the build record)."""
        return {
            "feature-columns": self.feature_cols,
            "target-columns": self.target_cols,
            "fitted": self.coef_ is not None,
        }

    def into_definition(self) -> dict:
        return {
            "kind": "LinearModel",
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
        }


@register_model("RidgeModel")
class RidgeModel(LinearModel):
    """L2-regularized :class:`LinearModel` — identical one-aggregation
    sufficient-statistics fit, solving ``(X'X + alpha * R) beta = X'y``
    with ``R`` the identity EXCEPT a zero at the intercept (the
    standard unpenalized-intercept convention, sklearn's
    ``Ridge(fit_intercept=True)``). The regularizer touches only the
    collected (p+1)x(p+1) matrix on the driver — nothing about the
    distributed pass changes, so ridge costs exactly what OLS costs at
    any scale and stays deterministic (M9)."""

    def __init__(
        self,
        feature_cols: Sequence[str] | None = None,
        target_cols: Sequence[str] | None = None,
        alpha: float = 1.0,
    ):
        super().__init__(feature_cols, target_cols)
        self.alpha = float(alpha)

    def _solve(self, xtx: np.ndarray, xty: np.ndarray) -> np.ndarray:
        reg = np.eye(xtx.shape[0]) * self.alpha
        reg[0, 0] = 0.0  # never penalize the intercept
        return super()._solve(xtx + reg, xty)

    def into_definition(self) -> dict:
        return {
            "kind": "RidgeModel",
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
            "alpha": self.alpha,
        }


@register_model("DiffBasedAnomalyDetector")
class DiffBasedAnomalyDetector(Projections):
    """Reference DiffBasedAnomalyDetector on Spark (diff.py:310-458 parity)."""

    def __init__(
        self,
        base_estimator: LinearModel | None = None,
        smoothing_method: str = "smm",
        window: int = 144,
        require_thresholds: bool = False,
        scaler: str = "minmax",
    ):
        self.base = base_estimator or LinearModel()
        self.smoothing_method = smoothing_method
        self.window = window
        self.require_thresholds = require_thresholds
        if scaler not in ("minmax", "robust"):
            raise ValueError(f"unknown scaler {scaler!r} (minmax|robust)")
        self.scaler_kind = scaler
        self.scaler = None
        self.tag_thresholds_: dict[str, float] | None = None
        self.total_threshold_: float | None = None

    def keep_projections(self) -> None:
        super().keep_projections()
        self.base.keep_projections()

    def _scaler_cls(self):
        return MinMaxScalerExpr if self.scaler_kind == "minmax" else RobustScalerExpr

    def _spread(self, stat: tuple[float, float]) -> float:
        """Error-scaling divisor from a stats tuple: max-min for minmax,
        IQR for robust (1.0 when degenerate)."""
        return center_spread(self.scaler_kind, stat)[1]

    def fit(self, X: DataFrame, y: DataFrame, ts_col: str = "ts") -> "DiffBasedAnomalyDetector":
        return train_xy(self, X, y, ts_col=ts_col)

    def cross_validate(
        self, X: DataFrame, y: DataFrame, n_splits: int = 3, ts_col: str = "ts"
    ) -> "DiffBasedAnomalyDetector":
        """TimeSeriesSplit fold fits; thresholds from the LAST fold only."""
        return train_xy(self, X, y, n_splits, refit=False, ts_col=ts_col)

    def get_metadata(self) -> dict:
        """diff.py:88-127 parity: thresholds + smoothing config (keys match
        the reference's dashed names so downstream dashboards port over)."""
        metadata: dict = {}
        if self.tag_thresholds_ is not None:
            metadata["feature-thresholds"] = [
                self.tag_thresholds_[t] for t in self.base.target_cols or []
            ]
        if self.total_threshold_ is not None:
            metadata["aggregate-threshold"] = self.total_threshold_
        metadata["window"] = self.window
        metadata["smoothing-method"] = self.smoothing_method
        metadata["scaler"] = self.scaler_kind
        if hasattr(self.base, "get_metadata"):
            metadata["base-estimator"] = self.base.get_metadata()
        return metadata

    def _affine_stats(self) -> dict | None:
        """Scaler stats in the (min, max) shape anomaly_frame consumes:
        robust (median, IQR) maps to (med, med+IQR) so the divisor is IQR."""
        if self.scaler is None:
            return None
        if self.scaler_kind == "minmax":
            return self.scaler.stats
        return {
            t: (a, a + (b if b else 1.0)) for t, (a, b) in self.scaler.stats.items()
        }

    def into_definition(self) -> dict:
        return {
            "kind": type(self).__name__,
            "base_estimator": self.base.into_definition(),
            "smoothing_method": self.smoothing_method,
            "window": self.window,
            "require_thresholds": self.require_thresholds,
            "scaler": self.scaler_kind,
        }

    def anomaly(
        self, frame: DataFrame, resolution: str = "10T", ts_col: str = "ts", all_columns: bool = False
    ) -> DataFrame:
        """The anomaly block of ``frame`` (``ts_col``, the features, the
        targets as ``_yt_<t>``): a training or request frame, or
        ``with_targets(X, y, targets)`` of a separate X and y. A lookback
        base scores the rows with a full window, keyed by target ts.
        ``all_columns`` adds the ``smooth_*`` columns; without it no
        smoothing window is built. The block's Columns are built on the
        first call per (``resolution``, ``ts_col``, ``all_columns``) and
        kept for the next."""
        # the error's truth side is ALWAYS the caller's y (diff.py:356-359)
        # — the _yt_<t> columns, so a y differing from the X-side tag
        # columns is honored; model_input__ stays the X side
        project = self._projection(
            (resolution, ts_col, all_columns),
            lambda: anomaly_projection(
                self.base.target_cols,
                resolution=resolution,
                scaler_stats=self._affine_stats(),
                smoothing_method=self.smoothing_method,
                smoothing_window=self.window if all_columns else None,
                thresholds=self.tag_thresholds_,
                total_threshold=self.total_threshold_,
                ts_col=ts_col,
                y_prefix="_yt_",
                feature_tags=self.base.feature_cols,
            ),
        )
        return project(self.base.outputs(frame, ts_col=ts_col))


@register_model("DiffBasedKFCVAnomalyDetector")
class DiffBasedKFCVAnomalyDetector(DiffBasedAnomalyDetector):
    """KFold variant (reference diff.py:566-635): out-of-fold predictions
    over the WHOLE frame, thresholds = ``threshold_percentile`` quantile of
    the smoothed OOF error (per tag and total). The folds run on the same
    engine as TimeSeriesSplit (``ml.cv.FoldCV`` grouped by ``_fold``): one
    aggregation fits every fold, and the OOF errors are one projection of
    its predictions.

    Fold membership defaults to the sklearn-faithful seeded permutation —
    bit-equal to the reference's ``KFold(5, shuffle=True, random_state=0)``
    (diff.py:566-575) via ``ml.cv.fold_column``. Set
    ``fold_membership="modulo"`` for the engine-portable ``row_number % k``
    assignment (the form a SQL oracle can reproduce; used by the m4
    contract query).
    """

    def __init__(
        self,
        base_estimator: LinearModel | None = None,
        smoothing_method: str = "smm",
        window: int = 144,
        threshold_percentile: float = 0.99,
        n_splits: int = 5,
        require_thresholds: bool = False,
        scaler: str = "minmax",
        fold_membership: str = "shuffle",
    ):
        super().__init__(
            base_estimator, smoothing_method, window, require_thresholds, scaler
        )
        self.threshold_percentile = threshold_percentile
        self.n_splits = n_splits
        if fold_membership not in ("shuffle", "modulo"):
            raise ValueError(
                f"unknown fold_membership {fold_membership!r} (shuffle|modulo)"
            )
        self.fold_membership = fold_membership

    def into_definition(self) -> dict:
        d = super().into_definition()
        d["threshold_percentile"] = self.threshold_percentile
        d["n_splits"] = self.n_splits
        d["fold_membership"] = self.fold_membership
        return d

    def cross_validate(
        self, X: DataFrame, y: DataFrame, n_splits: int | None = None, ts_col: str = "ts"
    ) -> "DiffBasedKFCVAnomalyDetector":
        """KFold thresholds over X and y, over the model's own ``n_splits``."""
        if n_splits not in (None, self.n_splits):
            raise ValueError(f"n_splits={n_splits} differs from the model's {self.n_splits}")
        return super().cross_validate(X, y, 0, ts_col)

    def kfold_thresholds(
        self, frame: DataFrame, ts_col: str = "ts", row_count: int | None = None
    ) -> "DiffBasedKFCVAnomalyDetector":
        """Thresholds from ``n_splits``-fold CV over ``ml.cv.train``'s frame
        of ``row_count`` rows: the out-of-fold errors of ``ml.cv.FoldCV``'s
        fold fits, smoothed over the whole frame, then their
        ``threshold_percentile`` quantile (diff.py:617-635)."""
        from gordo_spark.ml.cv import FoldCV, Folds, cached, detector_errors, fold_column
        from gordo_spark.operators.smoothing import smooth

        k = self.n_splits
        targets = self.base.target_cols
        errs = [f"_e_{t}" for t in targets] + ["_e_total"]
        folded = fold_column(frame, k, ts_col, membership=self.fold_membership, row_count=row_count)
        with cached(folded) as data:
            cv = FoldCV(self, data, self.base.feature_cols, targets, Folds.kfold(k), ts_col)
            oof = cv.predictions().select(ts_col, *detector_errors(cv, self))
            smoothed = smooth(oof, errs, self.smoothing_method, self.window, ts_col)
            p = self.threshold_percentile
            row = smoothed.agg(
                *[F.percentile(_q(f"smooth_{c}"), p).alias(c) for c in errs]
            ).collect()[0]
        self.tag_thresholds_ = {t: row[f"_e_{t}"] for t in targets}
        self.total_threshold_ = row["_e_total"]
        return self


class RowFitModel(BaseModel):
    """ml.cv.FoldCV's fold protocol without per-group statistics: ``_fit_rows``
    fits ``models[i]`` on the rows whose ``FIT`` is i, every fit in one pass."""

    def group_aggs(self, feats: Sequence[str], ys: Sequence[str]) -> list[Column]:
        return []

    def fit_folds(self, cv, fits: Sequence[tuple[int, ...]], models: Sequence) -> None:
        self._fit_rows(cv.exploded(fits), cv.feats, cv.targets, models, cv.ts_col)

    def fit(self, X: DataFrame, y: DataFrame, ts_col: str = "ts"):
        return train_xy(self, X, y, ts_col=ts_col)


@register_model("LaggedLinearModel")
class LaggedLinearModel(RowFitModel):
    """Autoregressive lookback model — the LSTM-shaped flow with exact math.

    The reference's LSTM consumes sliding windows of ``lookback_window``
    steps and predicts ``lookahead`` steps forward, so its output is
    ``offset = lookback - 1 + lookahead`` rows shorter than its input
    (gordo/machine/model/models.py:713-793, offset detection
    gordo/builder/build_model.py:448-471 in /root/reference). TF is not in
    this environment; this model reproduces the exact data-flow shape —
    lagged feature construction, lookahead target shift, shortened output
    keyed by target timestamp — with a closed-form OLS on the lagged
    features, so every alignment path (J5/J7/W6/M8) is exercised with a
    deterministic oracle-able model.
    """

    def __init__(
        self,
        lookback: int = 3,
        lookahead: int = 1,
        feature_cols: Sequence[str] | None = None,
        target_cols: Sequence[str] | None = None,
    ):
        if lookback < 1 or lookahead < 0:
            raise ValueError("lookback >= 1 and lookahead >= 0 required")
        self.lookback = lookback
        self.lookahead = lookahead
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.target_cols = list(target_cols) if target_cols else None
        self._ols = LinearModel()

    @property
    def offset(self) -> int:
        """M8 — declarative, no length probe needed."""
        return self.lookback - 1 + self.lookahead

    def into_definition(self) -> dict:
        return {
            "kind": "LaggedLinearModel",
            "lookback": self.lookback,
            "lookahead": self.lookahead,
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
        }

    def _design(
        self, frame: DataFrame, feats: Sequence[str], part: str | None, ts_col: str
    ) -> DataFrame:
        """``frame`` plus the lag design keyed at the TARGET row: ``<c>__lag<s>``
        is ``c`` from ``s + lookahead`` rows earlier within the row's ``part``
        partition in ts order; rows without a full window are dropped."""
        w = Window.partitionBy(*([part] if part else [])).orderBy(ts_col)
        lags = [
            F.lag(_q(c), s + self.lookahead).over(w).alias(f"{c}__lag{s}")
            for c in feats
            for s in range(self.lookback)
        ]
        return (
            frame.select("*", F.row_number().over(w).alias("_rn"), *lags)
            .filter(F.col("_rn") > self.offset)
            .drop("_rn")
        )

    def _fit_rows(
        self, frame: DataFrame, feats: Sequence[str], targets: Sequence[str], models: Sequence,
        ts_col: str,
    ) -> None:
        """OLS over each fit's lag design; every fit from one aggregation by
        ``FIT``."""
        names = [f"{c}__lag{s}" for c in feats for s in range(self.lookback)]
        ys = [f"_yt_{t}" for t in targets]
        design = self._design(frame, feats, FIT, ts_col)
        rows = {r[FIT]: r for r in design.groupBy(FIT).agg(*gram_aggs(names, ys)).collect()}
        for i, m in enumerate(models):
            m._ols = LinearModel(names, targets)
            m._ols.coef_ = m._ols._solve(*gram_blocks(rows[i], len(names), len(ys)))

    def outputs(
        self, frame: DataFrame, key: str | None = None, models: Mapping | None = None,
        prefix: str = "model_output__", ts_col: str = "ts",
    ) -> DataFrame:
        """``frame`` plus ``<prefix><t>`` per target, keyed by the TARGET row
        (= window end + lookahead): the OLS projection of ``models[row[key]]``
        (this model when ``key`` is None) over the lag design, so rows
        without a full window in ``key``'s partition are dropped."""
        design = self._design(frame, self.feature_cols, key, ts_col)
        ols = {g: m._ols for g, m in (models or {None: self}).items()}
        out = self._ols.outputs(design, key, ols, prefix, ts_col)
        return out.select(
            *[_q(c) for c in frame.columns], *[_q(f"{prefix}{t}") for t in self.target_cols]
        )
