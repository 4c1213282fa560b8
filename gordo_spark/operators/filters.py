"""P3-P6 — row_filter (+buffer), filter_periods, known_filter_periods,
n_samples_threshold.

Reference semantics (config surface,
tests/gordo/workflow/test_config_elements.py:149-156 in /root/reference):

- ``row_filter``: boolean expression over tag values filtering *resampled*
  rows; ``row_filter_buffer_size`` additionally drops N rows on each side of
  any filtered row (P3).
- ``filter_periods``: drop whole periods deemed anomalous; method
  ``median`` (rolling-median deviation) or ``iqr`` (global IQR fence) or
  ``all`` (both), params ``window``, ``n_iqr`` (P4).
- ``known_filter_periods``: explicit [start, end] timestamp ranges to
  exclude (P4).
- ``n_samples_threshold``: raise InsufficientDataError when the post-filter
  row count is below threshold (P6; reference maps it to exit code 80,
  gordo/cli/cli.py:11,34).

All of these run on the wide per-machine frame — windows here are ordered by
ts *within one machine*, bounded (~50k rows/machine-year @10min), so the
unpartitioned Window is deliberate; multi-machine plans partition by machine
first (see plans.dataset).
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import DataFrame, Window, functions as F
from gordo_spark.functions.rounding import qround

from gordo_spark.functions.rowfilter import row_filter_to_sql


class InsufficientDataError(ValueError):
    """Post-filter row count below n_samples_threshold (exit code 80 in the
    reference CLI)."""


def apply_row_filter(
    df: DataFrame,
    row_filter: str,
    buffer_size: int = 0,
    ts_col: str = "ts",
    machine_col: str | None = None,
) -> DataFrame:
    """Keep rows satisfying the predicate; with ``buffer_size`` N, also drop
    rows within N rows of any rejected row (window max of the reject flag
    over +-N rows — one pass, no self-join)."""
    pred = F.expr(row_filter_to_sql(row_filter))
    if buffer_size <= 0:
        return df.filter(pred)
    w = (Window.partitionBy(machine_col) if machine_col else Window.partitionBy()).orderBy(
        ts_col
    ).rowsBetween(-buffer_size, buffer_size)
    bad = F.when(pred, F.lit(0)).otherwise(F.lit(1))
    return (
        df.withColumn("_near_bad", F.max(bad).over(w))
        .filter(F.col("_near_bad") == 0)
        .drop("_near_bad")
    )


def known_filter_periods(
    df: DataFrame,
    periods: Sequence[tuple[datetime | str, datetime | str]],
    ts_col: str = "ts",
) -> DataFrame:
    """Exclude rows falling inside any explicit [start, end] range."""
    out = df
    for start, end in periods:
        out = out.filter(
            ~(F.col(ts_col) >= F.lit(start)) | ~(F.col(ts_col) <= F.lit(end))
        )
    return out


def filter_periods(
    df: DataFrame,
    value_cols: Sequence[str],
    filter_method: str = "median",
    window: int = 144,
    n_iqr: float = 5.0,
    ts_col: str = "ts",
    machine_col: str | None = None,
) -> DataFrame:
    """Drop rows flagged anomalous by rolling-median deviation and/or a
    global IQR fence, applied per value column; a row is dropped if *any*
    column flags it.

    Declared semantics (ours, oracle-tested): ``median`` flags
    ``|v - trailing_median(window)| > n_iqr * global_IQR(v)``;
    ``iqr`` flags v outside ``[q1 - n_iqr*IQR, q3 + n_iqr*IQR]``;
    ``all`` = either.
    """
    if filter_method not in ("median", "iqr", "all"):
        raise ValueError(f"unknown filter_method {filter_method!r}")
    part = Window.partitionBy(machine_col) if machine_col else Window.partitionBy()
    w = part.orderBy(ts_col).rowsBetween(-(window - 1), 0)
    out = df
    # ONE aggregation job for all columns' quartiles, not one per column
    quart_aggs = []
    for c in value_cols:
        quart_aggs += [
            F.expr(f"percentile(`{c}`, 0.25)").alias(f"_q1_{c}"),
            F.expr(f"percentile(`{c}`, 0.75)").alias(f"_q3_{c}"),
        ]
    stats = out.agg(*quart_aggs).collect()[0]
    flags = []
    for c in value_cols:
        q1v, q3v = stats[f"_q1_{c}"], stats[f"_q3_{c}"]
        iqr = q3v - q1v
        if filter_method in ("median", "all"):
            med = F.expr(f"percentile(`{c}`, 0.5)").over(w)
            flags.append(F.abs(F.col("`" + c + "`") - med) > F.lit(n_iqr * iqr))
        if filter_method in ("iqr", "all"):
            lo = q1v - n_iqr * iqr
            hi = q3v + n_iqr * iqr
            flags.append(
                (F.col("`" + c + "`") < F.lit(lo)) | (F.col("`" + c + "`") > F.lit(hi))
            )
    flagged = flags[0]
    for fl in flags[1:]:
        flagged = flagged | fl
    # window expressions are not allowed directly in a WHERE clause —
    # materialize the flag as a column, then filter on it
    return (
        out.withColumn("_fp_flag", flagged)
        .filter(~F.col("_fp_flag"))
        .drop("_fp_flag")
    )


def check_n_samples(n: int, n_samples_threshold: int) -> None:
    """P6 — raise InsufficientDataError if ``n`` rows < threshold."""
    if n < n_samples_threshold:
        raise InsufficientDataError(
            f"{n} rows after filtering < n_samples_threshold={n_samples_threshold}"
        )


def require_n_samples(df: DataFrame, n_samples_threshold: int) -> DataFrame:
    """``check_n_samples`` on ``df.count()``: the one deliberate driver-side
    action in the dataset plan. Training reads the row count of its fold
    aggregation instead (``ml.cv.train``)."""
    if n_samples_threshold > 0:
        check_n_samples(df.count(), n_samples_threshold)
    return df


def winsorize(
    df: DataFrame,
    value_col: str = "value",
    lower: float = 0.05,
    upper: float = 0.95,
    machine_col: str = "tag",
) -> DataFrame:
    """Per-series winsorization: clamp values to the series' exact
    [lower, upper] percentiles — the robust-cleaning alternative to
    dropping outlier rows (keeps the time axis intact for resampling,
    unlike filter_periods which removes whole spans).

    Train-time-stats shape (same boundary as the inf imputer, A6): one
    exact-percentile aggregate per series — a |series|-rows frame —
    broadcast back onto the stream; the data itself never shuffles.
    Bounds are rounded to 6dp before the clamp so the clip boundary is
    engine-portable.
    """
    v = F.col("`" + value_col + "`")
    bounds = df.groupBy(machine_col).agg(
        qround(F.expr(f"percentile(`{value_col}`, {float(lower)})"), 6).alias("_lo"),
        qround(F.expr(f"percentile(`{value_col}`, {float(upper)})"), 6).alias("_hi"),
    )
    clamped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return df.join(F.broadcast(bounds), machine_col).select(
        machine_col,
        "ts",
        qround(clamped, 6).alias(value_col),
        F.when((v < F.col("_lo")) | (v > F.col("_hi")), 1)
        .otherwise(0)
        .alias("was_clipped"),
    )
