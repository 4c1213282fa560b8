"""The ``gordo build`` lifecycle on Spark — config in, trained artifact out.

Reference flow (gordo/builder/build_model.py:104-339 in /root/reference,
SURVEY.md §3.1): parse/validate config -> config-hash cache check -> fetch
data -> cross-validate (per-fold metrics + thresholds) -> fit -> persist
model.pkl + metadata.json with a revision -> registry write.

Here a build is config -> frame -> ``ml.cv.train`` -> metadata -> store. The
aligned wide frame is one Catalyst DAG (a solo scan or a share of a shared
scan), projected to the features and targets; ``train``, the one training
routine, takes it to the fitted model and checks ``n_samples_threshold``
against the row count of its fold aggregation. No ``count()`` runs, so
``query_duration_sec`` is plan time only: the scan runs inside the CV. An
in-memory DiffBasedAnomalyDetector machine takes 4 Spark jobs with a
LinearModel base, 6 with a Lagged or PythonEstimatorModel base and 8 as a
KFold detector (11 Lagged), whatever the folds. Only configs, Gram
matrices, fitted estimators, scores and thresholds reach the driver:
thousands of machines are a thread pool submitting concurrent jobs
(SURVEY.md §3.3), not one pod per machine.
"""

from __future__ import annotations

import time
from collections.abc import Mapping
from dataclasses import dataclass, fields
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gordo_spark.config import Machine
# score_model stays importable here: fleetbench's tracer wraps builder.score_model
from gordo_spark.ml.cv import score_model, train  # noqa: F401
from gordo_spark.ml.models import _q, model_from_definition
from gordo_spark.plans.dataset import TimeSeriesDataset
from gordo_spark.sources.store import DiskRegistry, ModelStore, calculate_cache_key

_DATASET_FIELDS = {f.name for f in fields(TimeSeriesDataset)}


def dataset_from_dict(d: dict) -> TimeSeriesDataset:
    """Machine ``dataset`` dict -> TimeSeriesDataset (unknown keys such as
    ``type`` or asset routing fields are ignored, mirroring the reference's
    open config dicts, gordo/machine/validators.py:37-107)."""
    kwargs = {k: v for k, v in d.items() if k in _DATASET_FIELDS}
    tags = kwargs.get("tag_list") or []
    kwargs["tag_list"] = [t["name"] if isinstance(t, dict) else t for t in tags]
    for key in ("target_tag_list", "additional_tags"):
        if kwargs.get(key):
            kwargs[key] = [
                t["name"] if isinstance(t, dict) else t for t in kwargs[key]
            ]
    return TimeSeriesDataset(**kwargs)


@dataclass
class BuildResult:
    model: Any
    metadata: dict
    path: str | None
    cached: bool


class ModelBuilder:
    """Build one machine: cache-check -> data -> CV -> fit -> persist.

    Nothing is planned or scanned before the cache check: a cache hit
    loads the stored model and launches no Spark job."""

    def __init__(
        self,
        machine: Machine,
        store: ModelStore | None = None,
        registry: DiskRegistry | None = None,
        version: str = "0.1",
        wide_frame: DataFrame | None = None,
        frames: Mapping[str, DataFrame] | None = None,
        revision: str | None = None,
    ):
        self.machine = machine
        self.store = store
        self.registry = registry
        self.version = version
        # a precomputed aligned frame, or a fleet's frames by machine name
        # (plans.multi's shared-scan fan-out, each planned on lookup): either
        # skips this machine's solo scan; ``frames`` is read only on a
        # cache miss, so a cached machine plans nothing
        self.wide_frame = wide_frame
        self.frames = frames or {}
        # the store revision to dump into (default: a fresh one per dump)
        self.revision = revision

    @property
    def cache_key(self) -> str:
        m = self.machine
        return calculate_cache_key(
            m.name, m.model, m.dataset, m.evaluation, self.version
        )

    def build(self, spark: SparkSession) -> BuildResult:
        m = self.machine
        key = self.cache_key
        if self.registry is not None and self.store is not None:
            cached_rev = self.registry.get_value(key)
            if cached_rev is not None:
                try:
                    model, metadata = self.store.load(m.name, cached_rev)
                    return BuildResult(model, metadata, None, cached=True)
                except FileNotFoundError:
                    pass  # stale registry entry: rebuild

        t0 = time.time()
        dataset = dataset_from_dict(m.dataset)
        if self.wide_frame is not None:
            wide = self.wide_frame
        elif m.name in self.frames:
            wide = self.frames[m.name]
        else:
            wide = dataset.wide_frame(spark)
        query_duration = time.time() - t0

        model = model_from_definition(m.model)
        evaluation = m.evaluation or {}
        cv_mode = evaluation.get("cv_mode", "full_build")
        base = getattr(model, "base", model)
        feats = base.feature_cols or dataset.x_cols
        targets = base.target_cols or dataset.y_cols
        frame = wide.select(
            "ts", *[_q(c) for c in feats], *[_q(t).alias(f"_yt_{t}") for t in targets]
        )
        cv = train(
            model, frame, feats, targets, int(evaluation.get("n_splits", 3)),
            scoring_scaler=evaluation.get("scoring_scaler"),
            n_samples_threshold=dataset.n_samples_threshold,
            refit=cv_mode != "cross_val_only",
        )

        path = None
        metadata = {
            "name": m.name,
            "build-metadata": {
                "model": {
                    "cache_key": key,
                    "model_creation_date": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
                    "model_training_duration_sec": time.time() - t0,
                    "query_duration_sec": query_duration,
                    "cv_duration_sec": cv.cv_duration,
                    "cross_validation": cv.cross_validation,
                },
                "dataset": {
                    "row_count": cv.row_count,
                    "tag_list": dataset.tag_list,
                    "target_tag_list": dataset.target_tag_list or dataset.tag_list,
                    "resolution": dataset.resolution,
                    # the declared config, verbatim — lets a client rebuild
                    # exactly the trained frame (provider, interpolation,
                    # range) for request-time scoring
                    "config": dict(m.dataset),
                },
            },
            "runtime": m.runtime,
            "user-defined": m.metadata,
        }
        if cv.thresholds is not None:
            metadata["build-metadata"]["model"]["thresholds"] = cv.thresholds
        if hasattr(model, "get_metadata"):
            # the reference merges every model's own metadata into the build
            # record (machine.py:249-269 -> GordoBase.get_metadata)
            metadata["build-metadata"]["model"]["model-metadata"] = (
                model.get_metadata()
            )

        if cv_mode != "cross_val_only" and self.store is not None:
            path = self.store.dump(model, m.name, metadata, self.revision)
            if self.registry is not None:
                rev = path.split("/")[-2]
                self.registry.write_key(key, rev)
        if (m.runtime or {}).get("reporters"):
            from gordo_spark.reporters import run_reporters

            run_reporters(spark, m, metadata)
        return BuildResult(model, metadata, path, cached=False)


def build_machines(
    spark: SparkSession,
    machines: list[Machine],
    store: ModelStore | None = None,
    registry: DiskRegistry | None = None,
    max_workers: int = 4,
    share_scans: bool = True,
) -> dict[str, BuildResult]:
    """Build many machines concurrently against one SparkSession — the
    replacement for the reference's one-K8s-pod-per-machine fan-out
    (gordo/cli/workflow_generator.py): Spark's scheduler interleaves the
    per-machine jobs; the driver only coordinates.

    ``share_scans=True`` groups machines whose dataset plans share a prefix
    (provider/resolution/aggregation/interpolation) and runs ONE
    scan+resample per group instead of one per machine (plans.multi) —
    at lake scale that is N-machines-1-scan instead of N scans. Each
    machine's frame is planned in its own build thread after its cache
    check misses, so planning overlaps the other machines' Spark jobs and
    a cached machine plans nothing; the shared scans stay cached until
    the builds return or raise.

    Every machine the call builds lands in one store revision. A machine
    that fails does not stop the others: they are built and registered,
    then one ``ExceptionGroup`` names every failed machine."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from gordo_spark.plans import multi

    datasets = {m.name: dataset_from_dict(m.dataset) for m in machines}
    wides = multi.shared_wide_frames(spark, datasets) if share_scans else multi.WideFrames()
    revision = str(int(time.time() * 1000))

    def one(machine: Machine) -> BuildResult:
        return ModelBuilder(
            machine, store, registry, frames=wides, revision=revision
        ).build(spark)

    results: dict[str, BuildResult] = {}
    errors: dict[str, Exception] = {}
    try:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            # each build inherits the caller's job group and tags through its
            # own copy of the local properties (Spark sets per-query ones)
            futures = {
                m.name: pool.submit(inheritable_thread_target(spark)(one), m)
                for m in machines
            }
            for name, future in futures.items():
                try:
                    results[name] = future.result()
                except Exception as e:  # noqa: BLE001 - reported below, per machine
                    errors[name] = e
    finally:
        wides.release()
    if errors:
        raise ExceptionGroup(
            f"{len(errors)} of {len(machines)} machines failed: "
            + "; ".join(f"{n}: {type(e).__name__}: {e}" for n, e in errors.items()),
            list(errors.values()),
        )
    return results
