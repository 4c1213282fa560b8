"""M3/M4/M5/M7 — training: ``train``, the one routine from a training frame
to a fitted model, and the fold engine under it.

Reference semantics: default CV is sklearn ``TimeSeriesSplit(n_splits=3)``
(gordo/builder/build_model.py:256-261 in /root/reference); the KFold variant
is ``KFold(n_splits=5, shuffle=True, random_state=0)``
(gordo/machine/model/anomaly/diff.py:566-623).

``train`` takes the training frame (``ts``, the features, the targets as
``_yt_<t>``), drops the rows with a null, NaN or ±inf feature or target (the
reference's inner alignment drops rows with a missing tag), numbers the
rest ONCE and caches them, and then fits, checks ``n_samples_threshold``,
scores, sets thresholds and refits. The builder, ``cross_validate`` (no
refit) and every ``fit(X, y)`` (no folds) run it. Each row carries a fold
group: ``_seg`` for TimeSeriesSplit (``with_segments``; fold ``i`` trains on
segments ``0..i`` and tests on ``i + 1``) or ``_fold`` for KFold
(``fold_column``; fold ``f`` trains on every other group and tests on
``f``), so every fold is a predicate over one cached frame. ``Folds`` names
each fold's train groups and test group. ``FoldCV`` gets the fold metadata,
the row count, the MinMax scaler stats and the base model's ``group_aggs``
from ONE aggregation grouped by the fold column; the base model then fits
every fold (``fit_folds``: ``LinearModel`` / ``RidgeModel`` sum per-group
Gram blocks, other bases train on the rows exploded into their fits), with
no Spark work per fold. Every fold's test rows are scored at once by the
base models' one scoring method, ``outputs``, keyed by the fold column.
Robust-scaler quantiles do not combine across groups, so they take one pass
of their own, for every fold at once. ``score_model`` scores every fold (and
takes the anomaly thresholds of the last) in one more aggregation; the KFold
detector instead takes a quantile of the smoothed out-of-fold errors. Both
read the same error columns (``detector_errors``).

Shuffled KFold membership (default) reproduces sklearn
``KFold(n_splits, shuffle=True, random_state=seed)`` EXACTLY: sklearn
shuffles ``arange(n)`` with the seeded Mersenne RNG and deals consecutive
chunks as test folds — the identical permutation comes from
``np.random.RandomState(seed).permutation(n)`` on the driver (one machine's
aligned frame is bounded, ~50k rows/year @10min, so the n-length fold map
is a broadcast-joinable driver artifact). ``membership="modulo"``
(``row_number % k``) remains as the engine-portable fallback that a SQL
oracle can reproduce (used by the m4 contract query).
"""

from __future__ import annotations

import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from functools import reduce
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from gordo_spark.ml.models import FIT, DiffBasedAnomalyDetector, _q, keyed, model_from_definition
from gordo_spark.ml.models import DiffBasedKFCVAnomalyDetector, require_finite
from gordo_spark.ml.scalers import center_spread
from gordo_spark.operators.filters import check_n_samples
from gordo_spark.operators.anomaly import row_mean_square
from gordo_spark.operators.smoothing import rolling_min

SEG = "_seg"
FOLD = "_fold"
METRICS = (
    "mean-squared-error", "mean-absolute-error", "r2-score",
    "explained-variance-score",
)


def _with_rn(df: DataFrame, ts_col: str) -> DataFrame:
    w = Window.partitionBy().orderBy(ts_col)
    return df.withColumn("_rn", F.row_number().over(w) - 1)


def with_segments(
    df: DataFrame, n_splits: int = 3, ts_col: str = "ts"
) -> DataFrame:
    """Append ``_seg``, the row's sklearn TimeSeriesSplit segment: 0 for
    rows that are only ever trained on, ``s`` for the test block of fold
    ``s - 1``. sklearn arithmetic: test_size = n // (n_splits + 1) and the
    first test block starts at n - n_splits * test_size. Lazy — the row
    number and n come from one window, so no count() runs; with fewer than
    ``n_splits + 1`` rows every row is segment 0."""
    w = Window.partitionBy().orderBy(ts_col)
    rn = F.row_number().over(w) - 1
    n = F.count(F.lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    size = F.floor(n / (n_splits + 1))
    first = n - size * n_splits
    seg = F.when(
        (size > 0) & (rn >= first),
        F.floor((rn - first) / F.greatest(size, F.lit(1))) + 1,
    ).otherwise(0)
    return df.withColumn(SEG, seg.cast("int"))


def timeseries_split(
    df: DataFrame, n_splits: int = 3, ts_col: str = "ts"
) -> list[tuple[DataFrame, DataFrame]]:
    """sklearn TimeSeriesSplit parity as (train, test) filters over
    ``with_segments``: fold i trains on rows [0, n - (n_splits - i) *
    test_size) and tests on the next test_size rows."""
    seg = with_segments(df, n_splits, ts_col)
    return [
        (
            seg.filter(F.col(SEG) <= i).drop(SEG),
            seg.filter(F.col(SEG) == i + 1).drop(SEG),
        )
        for i in range(n_splits)
    ]


def sklearn_kfold_membership(
    n: int, n_splits: int = 5, seed: int = 0
) -> np.ndarray:
    """Fold id per row index, bit-equal to sklearn
    ``KFold(n_splits, shuffle=True, random_state=seed)``
    (/root/reference/gordo/machine/model/anomaly/diff.py:566-575 pins
    ``KFold(5, shuffle=True, random_state=0)``): shuffle ``arange(n)`` with
    the seeded RNG, deal consecutive chunks (first ``n % k`` folds one
    larger) as test folds."""
    perm = np.random.RandomState(seed).permutation(n)
    sizes = np.full(n_splits, n // n_splits, dtype=np.int64)
    sizes[: n % n_splits] += 1
    fold_of = np.empty(n, dtype=np.int64)
    cur = 0
    for f, size in enumerate(sizes):
        fold_of[perm[cur : cur + size]] = f
        cur += size
    return fold_of


def fold_column(
    df: DataFrame,
    n_splits: int = 5,
    ts_col: str = "ts",
    membership: str = "shuffle",
    seed: int = 0,
    col: str = FOLD,
    row_count: int | None = None,
) -> DataFrame:
    """Append a fold-membership column.

    ``membership="shuffle"``: sklearn-faithful seeded permutation (driver
    computes the n-row (rn, fold) map, broadcast-joined in — frames are
    bounded per machine; ``row_count`` spares the count when the caller
    knows n). ``membership="modulo"``: ``row_number % k``,
    engine-portable (SQL-oracle-reproducible)."""
    rn = _with_rn(df, ts_col)
    if membership == "modulo":
        return rn.withColumn(col, (F.col("_rn") % n_splits)).drop("_rn")
    if membership != "shuffle":
        raise ValueError(f"unknown membership {membership!r} (shuffle|modulo)")
    n = df.count() if row_count is None else row_count
    fold_of = sklearn_kfold_membership(n, n_splits, seed)
    mapping = df.sparkSession.createDataFrame(
        [(int(i), int(f)) for i, f in enumerate(fold_of)],
        schema="_rn bigint, _fold_m int",
    )
    return (
        rn.join(F.broadcast(mapping), "_rn")
        .withColumn(col, F.col("_fold_m"))
        .drop("_rn", "_fold_m")
    )


def kfold_split(
    df: DataFrame,
    n_splits: int = 5,
    ts_col: str = "ts",
    membership: str = "shuffle",
    seed: int = 0,
) -> list[tuple[DataFrame, DataFrame]]:
    """Shuffled k-fold (sklearn-faithful by default; see fold_column)."""
    withf = fold_column(df, n_splits, ts_col, membership, seed)
    folds = []
    for i in range(n_splits):
        test = withf.filter(F.col(FOLD) == i).drop(FOLD)
        train = withf.filter(F.col(FOLD) != i).drop(FOLD)
        folds.append((train, test))
    return folds


@contextmanager
def cached(frame: DataFrame) -> Iterator[DataFrame]:
    """``frame`` cached for the duration of the block, released however
    the block exits."""
    data = frame.cache()
    try:
        yield data
    finally:
        data.unpersist()


class Folds(NamedTuple):
    """Fold ``i`` trains on the rows whose ``col`` is in ``train[i]`` and
    tests on the rows whose ``col`` is ``test[i]``."""

    col: str
    train: list[tuple[int, ...]]
    test: list[int]

    @classmethod
    def timeseries(cls, n_splits: int) -> "Folds":
        """Over ``with_segments``: train on segments 0..i, test on i + 1."""
        train = [tuple(range(i + 1)) for i in range(n_splits)]
        return cls(SEG, train, list(range(1, n_splits + 1)))

    @classmethod
    def kfold(cls, n_splits: int) -> "Folds":
        """Over ``fold_column``: train on every other fold, test on f."""
        groups = range(n_splits)
        return cls(FOLD, [tuple(g for g in groups if g != f) for f in groups], list(groups))


class FoldCV:
    """Fold fits of ``model`` over a frame whose ``folds.col`` column holds
    each row's fold group (``with_segments`` for TimeSeriesSplit,
    ``fold_column`` for KFold).

    One aggregation grouped by that column gives ``folds`` (train/test
    start/end/count per fold), ``row_count``, the per-group MinMax stats
    and whatever per-group aggregates the base model asks for
    (``group_aggs``). Fewer rows than ``n_samples_threshold`` raise
    ``InsufficientDataError`` before any fold is fit. The base model then
    fits every fold at once (``fit_folds``); ``models[i]`` is fold i's
    fitted clone of it, and ``predictions`` scores every fold's test rows
    through them at once."""

    def __init__(
        self,
        model,
        data: DataFrame,
        feats: Sequence[str],
        targets: Sequence[str],
        folds: Folds,
        ts_col: str = "ts",
        n_samples_threshold: int = 0,
    ):
        self.model, self.data, self.spec = model, data, folds
        self.base = getattr(model, "base", model)
        self.feats, self.targets = list(feats), list(targets)
        self.n_splits, self.ts_col = len(folds.test), ts_col
        ys = [f"_yt_{t}" for t in self.targets]
        aggs = [
            F.count(F.lit(1)).alias("_n"),
            F.min(ts_col).alias("_t0"),
            F.max(ts_col).alias("_t1"),
        ]
        for j, y in enumerate(ys):
            aggs += [F.min(_q(y)).alias(f"_mn_{j}"), F.max(_q(y)).alias(f"_mx_{j}")]
        aggs += self.base.group_aggs(self.feats, ys)
        rows = {r[folds.col]: r for r in data.groupBy(folds.col).agg(*aggs).collect()}
        self.row_count = sum(r["_n"] for r in rows.values())
        check_n_samples(self.row_count, n_samples_threshold)
        if not rows or any(g not in rows for g in folds.test):
            raise ValueError(f"too few rows ({self.row_count}) for {self.n_splits} splits")
        self.groups = rows
        # train groups per fold, then every group for the final fit
        self._train = [*folds.train, tuple(sorted(rows))]
        self._robust: list[dict] | None = None
        self.folds = []
        for i, g in enumerate(folds.test):
            train, test = [rows[h] for h in self._train[i]], rows[g]
            self.folds.append(
                {
                    "fold": i,
                    "train_start": min(r["_t0"] for r in train),
                    "train_end": max(r["_t1"] for r in train),
                    "train_count": sum(r["_n"] for r in train),
                    "test_start": test["_t0"], "test_end": test["_t1"],
                    "test_count": test["_n"],
                }
            )
        clone = {**self.base.into_definition(), "feature_cols": self.feats, "target_cols": self.targets}
        self.models = [model_from_definition(clone) for _ in folds.test]
        if self.models:
            self.base.fit_folds(self, folds.train, self.models)

    def _in(self, groups: Sequence[int]) -> Column:
        return F.col(self.spec.col).isin(*groups)

    def exploded(self, fits: Sequence[tuple[int, ...]]) -> DataFrame:
        """Every row once per fit that trains on it, the fit's index into
        ``fits`` (each fit's groups) in ``FIT``."""
        ids = F.array(*[F.when(self._in(f), F.lit(i)) for i, f in enumerate(fits)])
        return self.data.select("*", F.explode(F.array_compact(ids)).alias(FIT))

    def test_rows(self) -> DataFrame:
        """The rows some fold tests on."""
        return self.data.filter(self._in(self.spec.test))

    def by_fold(self, values: Sequence[Column]) -> Column:
        """``values[i]`` on the test rows of fold i."""
        return keyed(self.spec.col, dict(zip(self.spec.test, values)))

    def stats(self, kind: str, fold: int) -> dict[str, tuple[float, float]]:
        """Scaler stats of fold ``fold``'s train targets (every row when
        ``fold == n_splits``), in the shape of ``MinMaxScalerExpr`` /
        ``RobustScalerExpr`` ``.stats``. Robust quantiles come from one
        extra pass that serves every fold."""
        if kind == "minmax":
            rows = [self.groups[g] for g in self._train[fold]]
            return {
                t: (min(r[f"_mn_{j}"] for r in rows), max(r[f"_mx_{j}"] for r in rows))
                for j, t in enumerate(self.targets)
            }
        if self._robust is None:
            aggs = []
            for b, train in enumerate(self._train):
                for j, t in enumerate(self.targets):
                    v = F.when(self._in(train), _q(f"_yt_{t}"))
                    aggs += [
                        F.percentile(v, 0.5).alias(f"_md_{b}_{j}"),
                        (F.percentile(v, 0.75) - F.percentile(v, 0.25)).alias(f"_iqr_{b}_{j}"),
                    ]
            row = self.data.agg(*aggs).collect()[0]
            self._robust = [
                {t: (row[f"_md_{b}_{j}"], row[f"_iqr_{b}_{j}"]) for j, t in enumerate(self.targets)}
                for b in range(len(self._train))
            ]
        return self._robust[fold]

    def predictions(self) -> DataFrame:
        """The test rows plus ``_p_<t>``, each row's prediction by its
        fold's model (fewer rows for offset models)."""
        by_test = dict(zip(self.spec.test, self.models))
        return self.models[0].outputs(self.test_rows(), self.spec.col, by_test, "_p_", self.ts_col)

    def refit(self) -> None:
        """Final fit of the base model on every row, in place; a detector's
        scaler takes every row's target stats (diff.py:166-174)."""
        base = self.base
        base.fit_folds(self, [self._train[-1]], [base])
        if base is not self.model:
            self.model.scaler = self.model._scaler_cls()(self.targets)
            self.model.scaler.stats = self.stats(self.model.scaler_kind, self.n_splits)
            require_finite("scaler stats", [v for s in self.model.scaler.stats.values() for v in s])


def detector_errors(cv: FoldCV, detector: DiffBasedAnomalyDetector) -> list[Column]:
    """The diff.py error columns over ``cv.predictions()`` (diff.py:222-233):
    ``_e_<t>`` the unscaled ``|p - y|`` per tag, ``_e_total`` the mean over
    tags of ``(err / spread)^2``, each spread from the detector's scaler fit
    on the row's fold's train targets."""
    errs, scaled = [], []
    for t in cv.targets:
        err = F.abs(_q(f"_p_{t}") - _q(f"_yt_{t}"))
        stats = [cv.stats(detector.scaler_kind, i)[t] for i in range(cv.n_splits)]
        spread = cv.by_fold([F.lit(detector._spread(s)) for s in stats])
        errs.append(err.alias(f"_e_{t}"))
        scaled.append(err / spread)
    return [*errs, row_mean_square(scaled).alias("_e_total")]


def score_model(
    cv: FoldCV,
    scoring_scaler: str | None = None,
    detector: DiffBasedAnomalyDetector | None = None,
) -> list[dict[str, dict[str, float]]]:
    """M5 — per fold, mse/mae/r2/explained_variance per target plus the
    across-target mean, for every fold in ONE aggregation grouped by the
    fold column over the fold predictions.

    ``scoring_scaler`` (``minmax`` | ``robust``) scales y and y_hat by the
    fold's train-target stats before the metrics (reference
    gordo/builder/build_model.py:377-446 — scaled metrics comparable
    across tags; r2/ev are affine-invariant, mse/mae scale by 1/spread).

    With ``detector``, the same aggregation also sets its thresholds from
    the LAST fold (diff.py:229-264): the ``detector_errors`` of each fold's
    test rows, each through ``rolling(6, min_periods=6).min()`` and then
    ``max``."""
    k, ts, col = cv.n_splits, cv.ts_col, cv.spec.col
    cols = []
    for t in cv.targets:
        y, p = _q(f"_yt_{t}"), _q(f"_p_{t}")
        if scoring_scaler:
            cs = [center_spread(scoring_scaler, cv.stats(scoring_scaler, i)[t]) for i in range(k)]
            a = cv.by_fold([F.lit(float(c)) for c, _ in cs])
            b = cv.by_fold([F.lit(float(s)) for _, s in cs])
            y, p = (y - a) / b, (p - a) / b
        cols += [y.alias(f"_ys_{t}"), (y - p).alias(f"_d_{t}")]
    errs: list[str] = []
    if detector is not None:
        cols += detector_errors(cv, detector)
        errs = [f"_e_{t}" for t in cv.targets] + ["_e_total"]
    frame = cv.predictions().select(ts, col, *cols)
    if errs:
        w = Window.partitionBy(col).orderBy(ts)
        frame = frame.select("*", *[rolling_min(e, 6, w).alias(f"_th{e}") for e in errs])
    aggs = []
    for t in cv.targets:
        d, ys = _q(f"_d_{t}"), _q(f"_ys_{t}")
        aggs += [
            F.avg(d * d).alias(f"mse_{t}"),
            F.avg(F.abs(d)).alias(f"mae_{t}"),
            (1 - F.avg(d * d) / F.var_pop(ys)).alias(f"r2_{t}"),
            (1 - F.var_pop(d) / F.var_pop(ys)).alias(f"ev_{t}"),
        ]
    aggs += [F.max(_q(f"_th{e}")).alias(f"_th{e}") for e in errs]
    rows = {r[col]: r for r in frame.groupBy(col).agg(*aggs).collect()}
    per_fold = []
    for g in cv.spec.test:
        row = rows[g]
        out = {
            t: dict(zip(METRICS, (row[f"mse_{t}"], row[f"mae_{t}"], row[f"r2_{t}"], row[f"ev_{t}"])))
            for t in cv.targets
        }
        out["aggregate"] = {
            m: sum(out[t][m] for t in cv.targets) / float(len(cv.targets)) for m in METRICS
        }
        per_fold.append(out)
    if detector is not None:
        last = rows[cv.spec.test[-1]]
        detector.tag_thresholds_ = {t: last[f"_th_e_{t}"] for t in cv.targets}
        detector.total_threshold_ = last["_th_e_total"]
    return per_fold


class Training(NamedTuple):
    """``train``'s folds, per-fold scores and their A5 mean/std/min/max/raw
    (``cross_validation``), a detector's thresholds, the rows kept and the
    seconds before the refit."""

    cross_validation: dict
    thresholds: dict | None
    row_count: int
    cv_duration: float


def train(
    model, frame: DataFrame, feats: Sequence[str], targets: Sequence[str], n_splits: int,
    scoring_scaler: str | None = None, n_samples_threshold: int = 0, refit: bool = True,
    ts_col: str = "ts",
) -> Training:
    """Train ``model`` on ``frame`` with ``n_splits`` TimeSeriesSplit folds
    (``scoring_scaler`` scales their scores), then refit it on every row.
    The folds set a plain detector's thresholds; a KFold detector runs its
    own KFold CV unless this is a plain fit (a refit with no folds)."""
    t0 = time.time()
    base = getattr(model, "base", model)
    base.feature_cols, base.target_cols = list(feats), list(targets)
    detector = model if isinstance(model, DiffBasedAnomalyDetector) else None
    kfold = isinstance(model, DiffBasedKFCVAnomalyDetector)
    # abs(c) < inf is false for ±inf, for NaN (Spark orders it above inf) and for null
    finite = [F.abs(_q(c)) < F.lit(float("inf")) for c in [*feats, *[f"_yt_{t}" for t in targets]]]
    kept = frame.filter(reduce(Column.__and__, finite))
    numbered = with_segments(kept, n_splits, ts_col) if n_splits else kept.withColumn(SEG, F.lit(0))
    with cached(numbered) as data:
        cv = FoldCV(model, data, feats, targets, Folds.timeseries(n_splits), ts_col, n_samples_threshold)
        per_fold = score_model(cv, scoring_scaler, None if kfold else detector) if n_splits else []
        if kfold and (n_splits or not refit):
            model.kfold_thresholds(data, ts_col, row_count=cv.row_count)
        cv_duration = time.time() - t0
        if refit:
            cv.refit()
    thresholds = None
    if detector is not None:
        thresholds = {"tags": detector.tag_thresholds_, "total": detector.total_threshold_}
        require_finite("thresholds", [*(thresholds["tags"] or {}).values(), thresholds["total"]])
    scores = {}
    for metric in per_fold[0]["aggregate"] if per_fold else ():
        vals = [s["aggregate"][metric] for s in per_fold]
        mean = sum(vals) / len(vals)
        var = sum((v - mean) ** 2 for v in vals) / len(vals)
        scores[metric] = {"mean": mean, "std": var ** 0.5, "min": min(vals), "max": max(vals), "raw": vals}
    cross_validation = {"folds": cv.folds, "scores": scores, "per_fold": per_fold}
    return Training(cross_validation, thresholds, cv.row_count, cv_duration)
