"""§2.10 — online scoring as Structured Streaming.

The reference serves request/response batch scoring only (Flask blueprints);
the streaming-shaped semantics reproduced here (SURVEY.md §2.10):

- tumbling resample windows (J1) -> ``groupBy(window(ts, resolution))`` with
  a watermark = interpolation_limit (late data beyond the limit is dropped —
  exactly the offline gap-fill policy);
- pivot-align (J3): streaming disallows ``pivot``, so the wide frame is
  conditional aggregation (one avg per tag inside a single groupBy — same
  plan Catalyst generates for a static pivot with explicit values);
- anomaly scoring (M6): the batch anomaly block, unsmoothed — a
  ``LinearModel`` built from the broadcast coefficients appends its
  ``outputs`` and ``operators.anomaly.anomaly_frame`` adds the errors and
  confidences, the same query a request runs. So the stream emits the
  unscaled error columns (``tag_anomaly_unscaled__<t>``,
  ``total_anomaly_unscaled``) too.

State stays bounded by the watermark; each machine's stream is keyed by its
tag set, so a 1000-machine deployment is one streaming query per machine or
one multiplexed query keyed by machine id.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from gordo_spark.functions.rounding import qfloor, qround
from gordo_spark.functions.timeutil import offset_alias_to_seconds
from gordo_spark.ml.models import LinearModel
from gordo_spark.operators.anomaly import anomaly_frame


def stream_resample_wide(
    stream: DataFrame,
    tags: Sequence[str],
    resolution: str = "10T",
    watermark: str = "48H",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming J1+J3: watermarked tumbling-window resample, conditional-
    aggregation pivot, inner align (dropna)."""
    secs = int(offset_alias_to_seconds(resolution))
    wm_secs = int(offset_alias_to_seconds(watermark))
    aggs = [
        F.avg(F.when(F.col(tag_col) == t, F.col(value_col))).alias(t) for t in tags
    ]
    wide = (
        stream.withWatermark(ts_col, f"{wm_secs} seconds")
        .groupBy(F.window(ts_col, f"{secs} seconds").alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias(ts_col), *[F.col(f"`{t}`") for t in tags])
    )
    cond = F.col(f"`{tags[0]}`").isNotNull()
    for t in tags[1:]:
        cond = cond & F.col(f"`{t}`").isNotNull()
    return wide.filter(cond)


def stream_anomaly_select(
    wide: DataFrame,
    coef: Mapping[str, Mapping[str, float]],
    intercepts: Mapping[str, float],
    scaler_stats: Mapping[str, tuple[float, float]],
    thresholds: Mapping[str, float],
    total_threshold: float,
    tags: Sequence[str],
    resolution: str = "10T",
    ts_col: str = "ts",
) -> DataFrame:
    """M6 as a stateless streaming select: ``anomaly_frame`` over the
    ``outputs`` of the ``LinearModel`` whose intercepts and coefficients
    (``coef[t][feature]``) are given, its features in first-seen order of
    the ``coef`` keys. Smoothing windows need state and run downstream
    (foreachBatch or applyInPandasWithState)."""
    feats = list(dict.fromkeys(f for t in tags for f in coef[t]))
    model = LinearModel(feats, tags)
    model.coef_ = np.array(
        [[intercepts[t] for t in tags], *[[coef[t].get(f, 0.0) for t in tags] for f in feats]],
        dtype=float,
    )
    return anomaly_frame(
        model.outputs(wide, ts_col=ts_col),
        tags,
        resolution=resolution,
        scaler_stats=scaler_stats,
        smoothing_window=None,
        thresholds=thresholds,
        total_threshold=total_threshold,
        ts_col=ts_col,
    )


def score_stream(
    stream: DataFrame,
    tags: Sequence[str],
    model_params: dict,
    resolution: str = "10T",
    watermark: str = "48H",
) -> DataFrame:
    """readStream -> resample/align -> anomaly select, ready for
    ``writeStream`` (append mode; watermark closes windows)."""
    wide = stream_resample_wide(stream, tags, resolution, watermark)
    return stream_anomaly_select(
        wide,
        model_params["coef"],
        model_params["intercepts"],
        model_params.get("scaler_stats"),
        model_params.get("thresholds"),
        model_params.get("total_threshold"),
        tags,
        resolution,
    )


def ohlc_stream(
    stream: DataFrame,
    bucket_seconds: int,
    watermark: str = "1H",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming OHLC candles — the live counterpart of
    ``operators/downsample.resample_ohlc`` with IDENTICAL semantics
    (lexicographic ``min/max(struct(ts, value))`` open/close, so a
    closed window's candle equals the batch operator's row
    bit-for-bit). OHLC is pure algebraic aggregation — min/max/count
    merge associatively across micro-batches — so this is a plain
    watermarked tumbling-window agg: state per open (tag, window) is
    five scalars, no custom stateful processor needed.
    """
    b = int(bucket_seconds)
    wm = int(offset_alias_to_seconds(watermark))
    t = F.col(ts_col).cast("timestamp").cast("long")
    d = stream.withWatermark(ts_col, f"{wm} seconds").select(
        F.col(tag_col), F.col(ts_col), F.col(value_col), t.alias("_t")
    )
    agg = d.groupBy(
        F.window(ts_col, f"{b} seconds").alias("w"), F.col(tag_col)
    ).agg(
        F.min(F.struct(F.col("_t"), F.col(value_col).alias("v"))).alias("_o"),
        F.max(F.col(value_col)).alias("high"),
        F.min(F.col(value_col)).alias("low"),
        F.max(F.struct(F.col("_t"), F.col(value_col).alias("v"))).alias("_c"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        tag_col,
        F.col("w.start").alias("bucket_ts"),
        F.col("_o.v").alias("open"),
        "high",
        "low",
        F.col("_c.v").alias("close"),
        "n",
    )


def stream_conversion_join(
    events: DataFrame,
    touch_type: str,
    conv_type: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Stream-STREAM inner join with event-time bounds — the remaining
    Structured Streaming join shape beside the windowed aggs and the
    stateful processors: every ``touch_type`` event joins the same
    user's ``conv_type`` events landing within ``within`` AFTER it
    ("did this click convert, live"). Output:
    ``(user_id, touch_ts, conv_ts, lag_s)``.

    Both sides carry the SAME watermark and the join condition bounds
    conv_ts on BOTH ends relative to touch_ts — the two requirements
    that let Spark evict buffered state: a side's row can be dropped
    once the other side's watermark passes its last possible match, so
    state stays (rate x within)-bounded instead of unbounded. Batch
    parity: running the identical join condition on a static frame
    gives the same pairs (stream==batch tested).
    """
    touches = (
        events.filter(F.col(type_col) == touch_type)
        .select(
            F.col(user_col).alias("_tu"), F.col(ts_col).alias("touch_ts")
        )
        .withWatermark("touch_ts", watermark)
    )
    convs = (
        events.filter(F.col(type_col) == conv_type)
        .select(
            F.col(user_col).alias("_cu"), F.col(ts_col).alias("conv_ts")
        )
        .withWatermark("conv_ts", watermark)
    )
    cond = (
        (F.col("_tu") == F.col("_cu"))
        & (F.col("conv_ts") >= F.col("touch_ts"))
        & (F.col("conv_ts") <= F.col("touch_ts") + F.expr(f"INTERVAL {within}"))
    )
    joined = touches.join(convs, cond, "inner")
    return joined.select(
        F.col("_tu").alias(user_col),
        "touch_ts",
        "conv_ts",
        (
            F.col("conv_ts").cast("timestamp").cast("long")
            - F.col("touch_ts").cast("timestamp").cast("long")
        ).alias("lag_s"),
    )


# ---------------------------------------------------------------- fleet
def fleet_resample_clip_stream(
    stream: DataFrame,
    datasets: "dict",
    machine_col: str = "machine",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "48H",
) -> DataFrame:
    """Stage 1 of the FLEET-WIDTH scoring stream — the streaming twin of
    ``plans.multi.fleet_long_frame``'s shared prefix: ONE watermarked
    tumbling-window resample keyed on (tag, window) for the WHOLE fleet
    (state = open windows x |tags|, O(1) in fleet width), fanned out to
    machines by the same bounded SPEC TABLE the batch path broadcasts
    (``plans.multi.fleet_spec_frame``) with the per-machine clip as a
    row-local filter. Emits long ``(machine, tag, ts, value)`` on window
    close — the reference needs a pod (and a full scan) per machine for
    this; here 200 or 2,000 machines add spec rows, not state or scans.

    All datasets must form one plan-prefix group (same provider grid /
    resolution / aggregation — the ``_plan_key`` rule); heterogeneous
    fleets deploy one stream per group, exactly like the batch path's
    per-group union. Aggregation must be a single method (mean /
    mean_exact / min / max / sum / count ... — algebraic, so partial
    aggregation merges across micro-batches).
    """
    from gordo_spark.operators.resample import _AGG
    from gordo_spark.plans.multi import _plan_key, fleet_spec_frame

    members = dict(datasets)
    keys = {_plan_key(ds) for ds in members.values()}
    if len(keys) != 1:
        raise ValueError(
            f"fleet stream needs ONE plan-prefix group, got {len(keys)}: "
            "deploy one stream per group (the batch path's per-group union)"
        )
    proto = next(iter(members.values()))
    aggs = proto._agg_list
    if len(aggs) != 1:
        raise ValueError("fleet stream supports a single aggregation method")
    secs = int(offset_alias_to_seconds(proto.resolution))
    wm = int(offset_alias_to_seconds(watermark))
    all_tags = list(
        dict.fromkeys(t for ds in members.values() for t in ds.all_tags)
    )
    res = (
        stream.filter(F.col(tag_col).isin(all_tags))
        .withWatermark(ts_col, f"{wm} seconds")
        .groupBy(
            F.col(tag_col).alias("tag"),
            F.window(ts_col, f"{secs} seconds").alias("_w"),
        )
        .agg(_AGG[aggs[0]](value_col).alias("value"))
        .select("tag", F.col("_w.start").alias("ts"), "value")
    )
    spec = fleet_spec_frame(stream.sparkSession, members, machine_col)
    return (
        res.join(F.broadcast(spec), "tag")
        .filter(F.col("_t0").isNull() | (F.col("ts") >= F.col("_t0")))
        .filter(F.col("_t1").isNull() | (F.col("ts") < F.col("_t1")))
        .select(machine_col, "tag", "ts", "value")
    )


def fleet_fill_stream(
    clipped: DataFrame,
    resolution: str,
    interpolation_limit: str | None = "48H",
    machine_col: str = "machine",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Stage 2 of the fleet scoring stream: per-(machine, tag) regularize
    + bounded forward-fill, the stateful twin of the batch
    ``TimeSeriesDataset.fill`` (ffill mode) that ``fleet_long_frame``
    applies under its composite machine\\x00tag key. Runs as its OWN
    streaming query on the stage-1 sink (Spark disallows stateful ops
    after a streaming aggregation in one query — the scored->sink->smooth
    topology used throughout tests/test_streaming.py).

    State per (machine, tag): the LAST REAL bucket's (epoch, value) — two
    scalars, |machines| x |tags| total, the spec bound again; independent
    of event volume and of gap length. On each arriving bucket the
    processor emits every missing grid bucket since the previous one
    (value forward-filled while within ``interpolation_limit`` buckets of
    the last real value, NULL beyond — bit-identical to the batch
    ffill-with-limit window), then the bucket itself. Buckets are assumed
    nondecreasing across micro-batches per key (window close order under
    a monotone watermark — the stateful family's stated convention);
    within a batch they are sorted.
    """
    import pandas as pd
    from collections.abc import Iterator

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    secs = int(offset_alias_to_seconds(resolution))
    limit = (
        None
        if interpolation_limit is None
        else int(offset_alias_to_seconds(interpolation_limit) // secs)
    )
    out_schema = StructType(
        [
            StructField(machine_col, StringType()),
            StructField(tag_col, StringType()),
            StructField(ts_col, TimestampType()),
            StructField(value_col, DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("b", LongType()),   # last REAL (non-null) bucket
            StructField("v", DoubleType()),
            StructField("e", LongType()),   # last EMITTED bucket
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prev_b, prev_v, last_emit = (
            state.get if state.exists else (None, None, None)
        )
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        ts_out, v_out = [], []
        for t, v in zip(rows[ts_col], rows[value_col]):
            b = int(pd.Timestamp(t).value // 1_000_000_000) // secs
            if last_emit is not None:
                for k in range(last_emit + 1, b):
                    ts_out.append(pd.Timestamp((k * secs) * 1_000_000_000))
                    fill_ok = prev_b is not None and (
                        limit is None or (k - prev_b) <= limit
                    )
                    v_out.append(prev_v if fill_ok else None)
            ts_out.append(pd.Timestamp(t))
            last_emit = b
            if pd.isna(v):
                # an all-null cell: the grid row exists; fill from the
                # last real anchor (ffill) without advancing it
                fill_ok = prev_b is not None and (
                    limit is None or (b - prev_b) <= limit
                )
                v_out.append(prev_v if fill_ok else None)
                continue
            v_out.append(float(v))
            prev_b, prev_v = b, float(v)
        state.update((prev_b, prev_v, last_emit))
        yield pd.DataFrame(
            {
                machine_col: key[0],
                tag_col: key[1],
                ts_col: ts_out,
                value_col: v_out,
            }
        )

    return clipped.groupBy(machine_col, tag_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def fleet_consensus_stream(
    clipped: DataFrame,
    resolution: str = "1H",
    flag_sigmas: float = 3.0,
    watermark: str = "48H",
    machine_col: str = "machine",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """LIVE cross-sectional fleet consensus — the streaming twin of
    ``operators/anomaly.fleet_consensus_flags``: per (tag, bucket), the
    fleet's values collect into ONE watermarked windowed aggregation
    (state per open window = the fleet's values — bounded by FLEET
    WIDTH, not volume; the whole point of the cross-sectional axis is
    that the group is the fleet), then median / MAD / robust-z run as
    ROW-LOCAL array algebra over 1e6-scaled longs (array_sort +
    exact dyadic halving — bit-equal to the batch percentile on
    integers) and the per-machine flags explode back out. The
    broken-sensor pager in minutes instead of at the nightly batch;
    stream == batch pinned in tests.

    Emits on window close: ``(machine, tag, ts, _ad, z, flagged)`` —
    the batch flags frame's exact schema.
    """
    secs = int(offset_alias_to_seconds(resolution))
    wm = int(offset_alias_to_seconds(watermark))
    d = clipped.filter(F.col(value_col).isNotNull()).select(
        F.col(machine_col).alias("machine"),
        F.col(tag_col).alias("tag"),
        F.col(ts_col).alias("ts"),
        qfloor(F.col(value_col), 6).alias("_iv"),
    )
    if d.isStreaming:
        d = d.withWatermark("ts", f"{wm} seconds")
    agg = (
        d.groupBy(
            F.window("ts", f"{secs} seconds").alias("_w"), F.col("tag")
        )
        .agg(
            F.collect_list(F.struct("machine", "_iv")).alias("_vals")
        )
        .select(
            "tag", F.col("_w.start").alias("ts"), "_vals",
            F.size("_vals").alias("_n"),
        )
    )
    # exact integer median of a sorted array: dyadic halving, the same
    # value batch percentile() returns over integer-valued doubles
    def arr_median(sorted_arr, n):
        mid_hi = (n / 2 + 1).cast("int")
        mid_lo = ((n + 1) / 2).cast("int")
        return (
            F.element_at(sorted_arr, mid_lo).cast("double")
            + F.element_at(sorted_arr, mid_hi).cast("double")
        ) / 2.0

    ivs = F.array_sort(F.expr("transform(_vals, x -> x._iv)"))
    w_med = agg.withColumn("_med", arr_median(ivs, F.col("_n")))
    ads = F.array_sort(
        F.expr("transform(_vals, x -> abs(x._iv - _med))")
    )
    w_mad = w_med.withColumn("_mad", arr_median(ads, F.col("_n")))
    ex = w_mad.select(
        "tag", "ts", "_med", "_mad", "_n",
        F.explode("_vals").alias("_e"),
    )
    z = F.when(
        (F.col("_mad") > 0) & (F.col("_n") >= 3),
        qround(
            F.lit(0.6745) * (F.col("_e._iv") - F.col("_med")) / F.col("_mad"),
            6,
        ),
    )
    return ex.select(
        F.col("_e.machine").alias("machine"),
        "tag",
        "ts",
        F.abs(F.col("_e._iv") - F.col("_med")).alias("_ad"),
        z.alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(float(flag_sigmas)), F.lit(False)
        ).alias("flagged"),
    )
