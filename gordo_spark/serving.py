"""§3.2 parity — the prediction/anomaly endpoints as stateless functions.

The reference serves three responses over Flask
(gordo/server/blueprints/base.py + anomaly.py in /root/reference):

- POST /prediction          -> base model output keyed by ts
- POST /anomaly/prediction  -> the full anomaly column block, smooth-*
                               columns dropped unless ?all_columns
- GET  /metadata            -> build metadata + revision

Here each endpoint is a pure function over (store, payload): load the
pickled model via an LRU cache (the reference caches N_CACHED_MODELS=2,
gordo/server/utils.py:334-353), shape the request in pandas with
serving_io (X and y aligned on ``ts`` before Spark, as the reference
aligns them), start Spark at one ``createDataFrame`` of that request
frame, apply the model's projection to it and collect the rows on the
driver. A model builds its projection (its prediction or anomaly Column
lists) on its first request after it enters the LRU and keeps it, so a
request only binds those Columns to its frame. Spark folds a projection
of a local frame on the driver, so a Linear model's request runs 0 Spark
jobs; a lookback or pandas base runs the jobs its windows or Python pass
need. A REST layer (any WSGI app) or a Structured Streaming
``foreachBatch`` can wrap these unchanged.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gordo_spark.ml.models import Projections
from gordo_spark.sources.serving_io import (
    dataframe_from_dict,
    dataframe_to_dict,
    timed,
    verify_columns,
)
from gordo_spark.sources.store import ModelStore

_N_CACHED_MODELS = 2


@lru_cache(maxsize=_N_CACHED_MODELS)
def _load_cached(store_root: str, name: str, revision: str):
    """A model in the LRU is only scored, never refit, so it keeps the
    Column lists it builds on its first request for the next ones."""
    model, metadata = ModelStore(store_root).load(name, revision)
    if isinstance(model, Projections):
        model.keep_projections()
    return model, metadata


def _load(store_root: str, name: str, revision: str | None):
    """Resolve revision=None to the CURRENT latest before the cache lookup —
    caching on the None key would pin the first-loaded model forever while
    responses report newer revisions."""
    rev = revision or ModelStore(store_root).latest_revision()
    if rev is None:
        raise FileNotFoundError(f"no revisions in {store_root}")
    model, metadata = _load_cached(store_root, name, rev)
    return model, metadata, rev


def metadata_response(store_root: str, name: str, revision: str | None = None) -> dict:
    _, metadata, rev = _load(store_root, name, revision)
    return {"metadata": metadata, "revision": rev, "name": name}


def _frame(spark: SparkSession, model, payload: dict, with_y: bool) -> DataFrame:
    """The one Spark frame of a request, shaped as the builder's training
    frame: X verified to the model's features and, ``with_y``, inner-aligned
    on ``ts`` with y's targets as ``_yt_<t>``. A sent y is verified on
    either route (a bad y is a 400), and anomaly scoring, which buckets
    rows by time, rejects a request keyed by row numbers (a 400)."""
    base = getattr(model, "base", model)

    def verified(v, tags):
        # parquet request parts arrive as pandas frames (S5); JSON payloads
        # as nested dicts (S4)
        return verify_columns(v if isinstance(v, pd.DataFrame) else dataframe_from_dict(v), tags)

    frame = verified(payload["X"], base.feature_cols)
    if payload.get("y") is not None:
        y = verified(payload["y"], base.target_cols)
        if with_y:
            yt = y.rename(columns={t: f"_yt_{t}" for t in base.target_cols})
            frame = frame.merge(yt, on="ts")
    elif with_y:
        raise ValueError("y is required for anomaly scoring")
    if with_y and not pd.api.types.is_datetime64_any_dtype(frame["ts"]):
        raise ValueError("anomaly scoring needs timestamps: X and y must be keyed by ISO datetimes")
    return spark.createDataFrame(frame)


def prediction_response(
    spark: SparkSession,
    store_root: str,
    name: str,
    payload: dict,
    revision: str | None = None,
    timings: dict | None = None,
) -> dict:
    """Base prediction: model output keyed by ts. ``timings`` gets the
    request's ``parse``, ``plan``, ``execute`` and ``serialize`` seconds."""
    model, _, rev = _load(store_root, name, revision)
    base = getattr(model, "base", model)
    with timed(timings, "parse"):
        frame = _frame(spark, model, payload, with_y=False)
    with timed(timings, "plan"):
        out = base.predict(frame)
    return {"data": dataframe_to_dict(out, timings=timings), "revision": rev, "name": name}


def anomaly_response(
    spark: SparkSession,
    store_root: str,
    name: str,
    payload: dict,
    revision: str | None = None,
    all_columns: bool = False,
    resolution: str | None = None,
    timings: dict | None = None,
) -> dict:
    """Full anomaly block; smooth-* columns only with ``all_columns``
    (gordo/server/blueprints/anomaly.py:17-22,57-62). ``resolution``
    defaults to the trained dataset's resolution from metadata
    (gordo/server/properties.py:45-49). ``timings`` as for
    ``prediction_response``."""
    model, metadata, rev = _load(store_root, name, revision)
    if resolution is None:
        resolution = (
            metadata.get("build-metadata", {})
            .get("dataset", {})
            .get("resolution", "10T")
        )
    with timed(timings, "parse"):
        frame = _frame(spark, model, payload, with_y=True)
    with timed(timings, "plan"):
        out = model.anomaly(frame, resolution=resolution, all_columns=all_columns)
    data = dataframe_to_dict(out, ts_col="start", timings=timings)
    return {"data": data, "revision": rev, "name": name}
