"""Pluggable Python estimators scored through Arrow-batched pandas UDFs.

The reference accepts ANY importable estimator in its model config —
sklearn pipelines, raw Keras specs — via the reflective from_definition
factory (gordo/serializer/from_definition.py:138-250; KerasRawModelRegressor
gordo/machine/model/models.py:401-460 in /root/reference). This module is
that extension point on Spark:

- fit: one ``groupBy(_fit).applyInPandas`` pass fits a fresh estimator
  on each fit's rows in ts order and returns it pickled — every fold at
  once under cross-validation (``ml.cv.FoldCV``). Per-machine frames are
  bounded (~50k rows/machine-year @10min, SURVEY.md §4), and one model
  training on one node is the reference's execution shape. The
  CLUSTER-scale axis is thousands of machines in parallel, not one
  model's gradient step.
- predict: the fitted estimator is closure-captured (Spark broadcasts it
  with the task) and applied per Arrow batch via ``mapInPandas`` — the
  sanctioned slow path: Python yes, but vectorized per batch, never
  per row, and embarrassingly parallel over the scoring data. Fold
  predictions are one such pass over the test rows, each row scored by
  its fold's estimator.

A TF/Keras model plugs in by exposing fit/predict over numpy — no engine
change needed; this module is deliberately framework-agnostic.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from gordo_spark.ml.models import FIT, RowFitModel, _q, register_model


@register_model("PythonEstimatorModel")
class PythonEstimatorModel(RowFitModel):
    """Wrap an importable estimator class (``module.Class`` string) with
    sklearn-ish fit(X, y) / predict(X) over numpy/pandas."""

    def __init__(
        self,
        estimator: str,
        estimator_kwargs: dict | None = None,
        feature_cols: Sequence[str] | None = None,
        target_cols: Sequence[str] | None = None,
    ):
        import importlib

        self.estimator_path = estimator
        self.estimator_kwargs = dict(estimator_kwargs or {})
        mod, _, cls = estimator.rpartition(".")
        try:
            self._est = getattr(importlib.import_module(mod), cls)(
                **self.estimator_kwargs
            )
        except (ImportError, AttributeError, ValueError) as exc:
            raise ValueError(f"cannot build estimator {estimator!r}: {exc}") from exc
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.target_cols = list(target_cols) if target_cols else None

    def _fit_rows(
        self, frame: DataFrame, feats: Sequence[str], targets: Sequence[str], models: Sequence,
        ts_col: str,
    ) -> None:
        """One grouped pandas pass: each fit's rows, sorted by ts, train a
        fresh estimator that comes back pickled; only the driver unpickles."""
        path, kwargs, ys = self.estimator_path, self.estimator_kwargs, [f"_yt_{t}" for t in targets]

        def fit(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(ts_col)
            est = PythonEstimatorModel(path, kwargs)._est
            est.fit(pdf[list(feats)].to_numpy(), pdf[ys].to_numpy())
            return pd.DataFrame({FIT: [pdf[FIT].iloc[0]], "_est": [pickle.dumps(est)]})

        rows = frame.select(FIT, ts_col, *[_q(c) for c in [*feats, *ys]]).groupBy(FIT)
        fitted = {
            r[FIT]: pickle.loads(r["_est"])
            for r in rows.applyInPandas(fit, f"{FIT} int, _est binary").collect()
        }
        for i, m in enumerate(models):
            m._est = fitted[i]

    def _scored(self, frame, key, ests, keep, feats, preds) -> DataFrame:
        """``keep`` columns of ``frame`` plus ``preds``, per Arrow batch, each
        row scored on its ``feats`` by the estimator ``ests[<its key>]``."""
        schema = StructType(
            [frame.schema[c] for c in keep] + [StructField(p, DoubleType()) for p in preds]
        )

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for g, part in pdf.groupby(key, sort=False):
                    pred = ests[g].predict(part[feats].to_numpy())
                    yield pd.concat([part[keep], pd.DataFrame(pred, part.index, preds)], axis=1)

        return frame.mapInPandas(score, schema=schema)

    def predict(
        self, X: DataFrame, ts_col: str = "ts", prefix: str = "model_output__"
    ) -> DataFrame:
        preds = [f"{prefix}{t}" for t in self.target_cols]
        frame = X.withColumn(FIT, F.lit(0))
        return self._scored(frame, FIT, {0: self._est}, [ts_col], self.feature_cols, preds)

    def predict_folds(self, cv, models: Sequence) -> DataFrame:
        """Every fold's test rows in one pandas pass, each scored by its
        fold's estimator."""
        ests = dict(zip(cv.spec.test, (m._est for m in models)))
        keep = [cv.ts_col, cv.spec.col, *[f"_yt_{t}" for t in cv.targets]]
        preds = [f"_p_{t}" for t in cv.targets]
        return self._scored(cv.test_rows(), cv.spec.col, ests, keep, cv.feats, preds)

    @property
    def offset(self) -> int:
        return int(getattr(self._est, "offset", 0))

    def into_definition(self) -> dict:
        return {
            "kind": "PythonEstimatorModel",
            "estimator": self.estimator_path,
            "estimator_kwargs": self.estimator_kwargs,
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
        }
