"""M6 / A2-A8 / W7 — anomaly column algebra.

Reference semantics (gordo/machine/model/anomaly/diff.py:310-458 and
gordo/machine/model/utils.py:49-165 in /root/reference; column contract in
docs/ml/model_output.rst:20-86):

Given aligned ``y`` (targets) and ``model_output`` per timestamp:

- ``tag_anomaly_unscaled__<t>``   = |output_t - y_t|                     (A4)
- ``total_anomaly_unscaled``      = mean over tags of squared tag error  (A2)
- scaled variants: same algebra after scaling y and output with the
  train-time scaler (MinMax by default) — scaler applied to y *after*
  training (diff.py:166-174)
- ``smooth_*``: trailing smoothing (smm/sma/ewma), window default 144,
  first window-1 rows null                                               (W5)
- ``anomaly_confidence__<t>``     = UNSCALED tag error / tag threshold
  (diff.py:420 — ``unscaled_abs_diff / feature_thresholds_``; thresholds
  themselves are rolling-min-max of the UNSCALED fold mae, diff.py:233)
- ``total_anomaly_confidence``    = SCALED total error / total threshold
  (diff.py:439 — ``total-anomaly-scaled / aggregate_threshold_``)
- ``start`` = bucket ts, ``end`` = start + resolution                    (W7)

Thresholds (A7/A8): TimeSeriesSplit mode = last CV fold's
``rolling(6).min().max()`` of the validation error (diff.py:229-264 — the
*last* fold, not an aggregate: SURVEY.md §7 hard-parts; computed with the
fold scores by ``ml.cv.score_model``); KFold mode = 0.99 quantile of the
smoothed out-of-fold error (diff.py:617-635,
``DiffBasedKFCVAnomalyDetector.kfold_thresholds``). Both modes take their
validation errors from ``ml.cv.detector_errors`` over the fold engine's
predictions, with the total error built by ``row_mean_square`` as here.

Everything here is one ``select`` of column expressions over the aligned
frame — no joins, no UDFs; thresholds are broadcast scalars. At 100 TB this
is a narrow map stage fused by whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from gordo_spark.functions.timeutil import offset_alias_to_interval
from gordo_spark.operators.smoothing import smoother


def scale_minmax(col: Column, mn: float, mx: float) -> Column:
    """sklearn MinMaxScaler transform as a column expr (bit-parity with
    train-time stats; feature_range (0,1))."""
    rng = (mx - mn) if mx != mn else 1.0
    return (col - F.lit(mn)) / F.lit(rng)


def row_mean_square(cols: Sequence[Column]) -> Column:
    """A2/A3 — per-row mean of squares across tag columns."""
    total = cols[0] * cols[0]
    for c in cols[1:]:
        total = total + c * c
    return total / F.lit(float(len(cols)))


def confidence(err: Column, threshold: float) -> Column:
    """``err / threshold``, the anomaly confidence. A zero threshold (an
    exact-fit fold) reproduces the reference's float division explicitly:
    inf, or NaN for 0/0 — ANSI mode would otherwise raise DIVIDE_BY_ZERO."""
    if threshold == 0:
        return F.when(err > 0, F.lit(float("inf"))).when(err == 0, F.lit(float("nan")))
    return err / F.lit(float(threshold))


def anomaly_projection(
    tags: Sequence[str],
    resolution: str = "10T",
    scaler_stats: Mapping[str, tuple[float, float]] | None = None,
    smoothing_method: str = "smm",
    smoothing_window: int | None = 144,
    thresholds: Mapping[str, float] | None = None,
    total_threshold: float | None = None,
    ts_col: str = "ts",
    y_prefix: str | None = None,
    feature_tags: Sequence[str] | None = None,
    machine_col: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """The full anomaly column block, its Columns built once: the function
    returned computes the block of any frame of the ``aligned`` shape.
    Without smoothing that is one ``select`` (the confidences divide the
    error expressions themselves); with smoothing, the confidences follow
    the ``smooth_*`` columns.

    ``aligned`` must carry ``ts``, one ``<tag>`` column per target tag and
    one ``model_output__<tag>`` column per tag (the model output side),
    already tail-aligned (operators.align.tail_align).
    ``y_prefix``: when set, the truth side of the error is the
    ``<y_prefix><tag>`` columns (a caller-supplied y differing from the
    model-input tags, diff.py:356-359 uses y); default: the ``<tag>``
    columns serve as both model_input and truth (autoencoder case).
    ``scaler_stats``: per-tag (min, max) from train time; None disables the
    scaled block. ``thresholds``/``total_threshold``: broadcast scalars from
    CV; None disables confidences.
    ``feature_tags``: the X-side tag list for the ``model_input__`` block
    (the reference's make_base_dataframe emits model-input columns for the
    feature tags only, gordo/machine/model/utils.py:49-110); default None =
    ``tags`` (the autoencoder case, where targets == features).
    ``machine_col``: multi-machine frames — smoothing windows partition by
    this column (one bounded series per machine) instead of running a
    global single-partition window; the column is carried through the
    output. This is the 100 TB path: N machines = N parallel window
    partitions, never one.
    """

    def ycol(t: str) -> Column:
        return F.col(f"`{y_prefix}{t}`") if y_prefix else F.col("`" + t + "`")

    cols: list[Column] = (
        [F.col("`" + machine_col + "`")] if machine_col else []
    ) + [
        F.col(ts_col).alias("start"),
        (F.col(ts_col) + F.expr(offset_alias_to_interval(resolution))).alias("end"),
    ]
    input_tags = list(feature_tags) if feature_tags is not None else list(tags)
    for t in input_tags:
        cols.append(F.col("`" + t + "`").alias(f"model_input__{t}"))
    pred = {t: F.col(f"`model_output__{t}`") for t in tags}
    cols += pred.values()

    # the error columns by name, as expressions over ``aligned``
    errors = {f"tag_anomaly_unscaled__{t}": F.abs(pred[t] - ycol(t)) for t in tags}
    errors["total_anomaly_unscaled"] = row_mean_square(list(errors.values()))
    if scaler_stats is not None:
        err_s = {
            f"tag_anomaly_scaled__{t}": F.abs(
                scale_minmax(pred[t], *scaler_stats[t])
                - scale_minmax(ycol(t), *scaler_stats[t])
            )
            for t in tags
        }
        errors.update(err_s)
        errors["total_anomaly_scaled"] = row_mean_square(list(err_s.values()))
    cols += [e.alias(name) for name, e in errors.items()]

    def confidences(col: Callable[[str], Column]) -> list[Column]:
        if thresholds is None:
            return []
        # `is not None`, not truthiness: a legitimately-zero threshold
        # (exact-fit fold) must still emit its confidence column, or the
        # output schema would change shape with the data.
        # tag confidence is ALWAYS unscaled error / unscaled threshold
        # (diff.py:420 divides unscaled_abs_diff by feature_thresholds_,
        # which were computed from the unscaled fold mae at diff.py:233)
        out = [
            confidence(col(f"tag_anomaly_unscaled__{t}"), thresholds[t]).alias(
                f"anomaly_confidence__{t}"
            )
            for t in tags
            if thresholds.get(t) is not None
        ]
        if total_threshold is not None:
            total = col("total_anomaly_scaled" if scaler_stats else "total_anomaly_unscaled")
            out.append(confidence(total, total_threshold).alias("total_anomaly_confidence"))
        return out

    if not smoothing_window:
        cols += confidences(errors.__getitem__)
        return lambda aligned: aligned.select(*cols)
    smoothed = smoother(list(errors), smoothing_method, smoothing_window, "start", machine_col)
    conf = confidences(lambda name: F.col(f"`{name}`"))
    return lambda aligned: smoothed(aligned.select(*cols)).select("*", *conf)


def anomaly_frame(aligned: DataFrame, *args, **kwargs) -> DataFrame:
    """The anomaly block of ``aligned``: ``anomaly_projection(*args,
    **kwargs)`` applied to it."""
    return anomaly_projection(*args, **kwargs)(aligned)


def fleet_consensus_flags(
    long_frame,
    flag_sigmas: float = 3.0,
    machine_col: str = "machine",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Per-BUCKET consensus deviations — the row-level half of
    :func:`fleet_consensus` (which rolls these up per (machine, tag))
    and the exact frame its streaming twin
    (``streaming/scoring.fleet_consensus_stream``) must reproduce
    bucket-for-bucket. Values quantize to 1e-6-scaled longs before the
    cross-machine median/MAD so every percentile is dyadic-exact on any
    engine. Output: ``(machine, tag, ts, _ad, z, flagged)`` where
    ``_ad`` is the scaled-integer absolute deviation (exact multiple
    of 0.5) and z the robust 0.6745*(v-med)/MAD at 6dp.
    """
    from pyspark.sql import functions as F

    from gordo_spark.functions.rounding import qfloor, qround

    base = long_frame.filter(F.col(value_col).isNotNull()).select(
        F.col(machine_col).alias("machine"),
        F.col(tag_col).alias("tag"),
        F.col(ts_col).alias("ts"),
        qfloor(F.col(value_col), 6).alias("_iv"),
    )
    med = base.groupBy("tag", "ts").agg(
        F.expr("percentile(_iv, 0.5)").alias("_med"),
        F.count(F.lit(1)).alias("_w"),
    )
    dev = base.join(med, ["tag", "ts"]).select(
        "machine", "tag", "ts", "_iv", "_med", "_w",
        F.abs(F.col("_iv") - F.col("_med")).alias("_ad"),
    )
    mad = dev.groupBy("tag", "ts").agg(
        F.expr("percentile(_ad, 0.5)").alias("_mad")
    )
    z = F.when(
        (F.col("_mad") > 0) & (F.col("_w") >= 3),
        qround(
            F.lit(0.6745) * (F.col("_iv") - F.col("_med")) / F.col("_mad"),
            6,
        ),
    )
    return dev.join(mad, ["tag", "ts"]).select(
        "machine",
        "tag",
        "ts",
        "_ad",
        z.alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(float(flag_sigmas)), F.lit(False)
        ).alias("flagged"),
    )


def fleet_consensus(
    long_frame,
    flag_sigmas: float = 3.0,
    machine_col: str = "machine",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """CROSS-SECTIONAL fleet consensus check: at every (tag, bucket),
    the fleet's median across machines is the consensus; a machine
    whose sensor sits far from it — in robust z units,
    ``0.6745 * (v - median) / MAD`` — is the BROKEN-SENSOR candidate.
    This is the axis all per-series detectors (hampel, zscore, CUSUM,
    the M6 frame) cannot see: a sensor drifting slowly stays
    self-consistent forever, but the fleet tells on it immediately
    (the reference's thousands-of-machines deployment makes this the
    single highest-value triage gordo itself never computes, because
    each pod only ever sees its own machine).

    Two exact percentile aggregations keyed on (tag, bucket) — median,
    then MAD over the joined deviations — then a row-local flag and a
    (machine, tag)-keyed rollup. EXACT-INTEGER discipline: values
    quantize to 1e-6-scaled LONGS before the percentiles, so the
    interpolated median of an even group is a DYADIC-exact ``j + 0.5``
    (integer-valued doubles in, one exact halving out) on any engine —
    a float-valued percentile would differ in ulps between engines and
    sit exactly on the .5e-6 boundary half the time (the w29_stl
    lesson). Shuffles on (tag, ts): the fleet dimension is the GROUP
    CONTENT, so width-200 and width-2000 fleets differ only in rows
    per group. Output per (machine, tag):
    ``(machine, tag, n_buckets, n_flagged, share_flagged,
    mean_abs_dev, worst_z)`` ordered.
    """
    from pyspark.sql import functions as F

    from gordo_spark.functions.rounding import qround

    z = fleet_consensus_flags(
        long_frame, flag_sigmas, machine_col, tag_col, ts_col, value_col
    ).select(
        "machine",
        "tag",
        (F.col("_ad") * 2).cast("long").alias("_ad2"),
        F.col("z").alias("_z"),
    )
    flagged = F.when(
        F.abs(F.col("_z")) > F.lit(float(flag_sigmas)), 1
    ).otherwise(0)
    return (
        z.groupBy("machine", "tag")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(flagged).alias("n_flagged"),
            qround(
                F.sum("_ad2").cast("double")
                / (F.count(F.lit(1)) * F.lit(2e6)),
                6,
            ).alias("mean_abs_dev"),
            qround(F.max(F.abs(F.col("_z"))), 6).alias("worst_z"),
        )
        .select(
            "machine",
            "tag",
            "n_buckets",
            "n_flagged",
            qround(F.col("n_flagged") / F.col("n_buckets"), 6).alias(
                "share_flagged"
            ),
            "mean_abs_dev",
            "worst_z",
        )
        .orderBy("machine", "tag")
    )
