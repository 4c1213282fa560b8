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
- score: ``outputs``, the base models' one scoring method, closure-captures
  the fitted estimators (Spark broadcasts them with the task) and applies
  them per Arrow batch via ``mapInPandas`` — the sanctioned slow path:
  Python yes, but vectorized per batch, never per row, and embarrassingly
  parallel over the scoring data. ``predict``, the fold predictions (each
  test row scored by its fold's estimator) and the detector's anomaly
  block are each one such pass.

A TF/Keras model plugs in by exposing fit/predict over numpy — no engine
change needed; this module is deliberately framework-agnostic.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator, Mapping, Sequence

import pandas as pd

from pyspark.sql import DataFrame
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
        fresh estimator that comes back pickled; only the driver unpickles.
        Features and targets travel as ``_x<i>`` / ``_y<j>``: pandas passes
        resolve a dotted column name as a nested field."""
        path, kwargs = self.estimator_path, self.estimator_kwargs
        xs, ys = [f"_x{i}" for i in range(len(feats))], [f"_y{j}" for j in range(len(targets))]

        def fit(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("_ts")
            est = PythonEstimatorModel(path, kwargs)._est
            est.fit(pdf[xs].to_numpy(), pdf[ys].to_numpy())
            return pd.DataFrame({FIT: [pdf[FIT].iloc[0]], "_est": [pickle.dumps(est)]})

        rows = frame.select(
            FIT, _q(ts_col).alias("_ts"),
            *[_q(c).alias(x) for c, x in zip(feats, xs)],
            *[_q(f"_yt_{t}").alias(y) for t, y in zip(targets, ys)],
        ).groupBy(FIT)
        fitted = {
            r[FIT]: pickle.loads(r["_est"])
            for r in rows.applyInPandas(fit, f"{FIT} int, _est binary").collect()
        }
        for i, m in enumerate(models):
            m._est = fitted[i]

    def outputs(
        self, frame: DataFrame, key: str | None = None, models: Mapping | None = None,
        prefix: str = "model_output__", ts_col: str = "ts",
    ) -> DataFrame:
        """``frame`` plus ``<prefix><t>`` per target, per Arrow batch, each
        row scored on its features by the estimator of ``models[row[key]]``
        (this model's when ``key`` is None). The pandas pass sees the
        columns as ``_c<i>``, since it would resolve a dotted name as a
        nested field."""
        ests = {g: m._est for g, m in (models or {None: self}).items()}
        pos = {c: f"_c{i}" for i, c in enumerate(frame.columns)}
        feats = [pos[c] for c in self.feature_cols]
        preds = [f"_p{j}" for j in range(len(self.target_cols))]
        safe = frame.toDF(*pos.values())
        schema = StructType(safe.schema.fields + [StructField(p, DoubleType()) for p in preds])

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for g, part in pdf.groupby(pos[key], sort=False) if key else [(None, pdf)]:
                    if len(part):
                        pred = ests[g].predict(part[feats].to_numpy())
                        yield pd.concat([part, pd.DataFrame(pred, part.index, preds)], axis=1)

        scored = safe.mapInPandas(score, schema=schema)
        return scored.toDF(*frame.columns, *[f"{prefix}{t}" for t in self.target_cols])

    def into_definition(self) -> dict:
        return {
            "kind": "PythonEstimatorModel",
            "estimator": self.estimator_path,
            "estimator_kwargs": self.estimator_kwargs,
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
        }
