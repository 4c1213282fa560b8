"""W1-W5 — trailing smoothing windows: smm / sma / ewma.

Reference semantics (gordo/machine/model/anomaly/diff.py:302-308 in
/root/reference):

- ``smm``  = ``rolling(window, min_periods=window).median()``
- ``sma``  = ``rolling(window, min_periods=window).mean()``
- ``ewma`` = ``ewm(span=window).mean()`` (adjust=True, infinite history)

pandas rolling with min_periods=window yields NaN for the first window-1
rows; Spark trailing windows happily aggregate partial frames, so smm/sma
mask with a row count over the same frame (SURVEY.md §7 hard-parts).

EWMA is recursive over all history — not expressible as a bounded Spark
window without precision games — so it runs as an Arrow-batched
``applyInPandas`` per series key: exact pandas semantics, one partition per
(machine, tag) series, each bounded (~50k rows/series-year @10min). That is
the sanctioned slow path: the grouping key is the parallelism unit, matching
the reference's one-process-per-machine model.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F
from gordo_spark.functions.rounding import qround


def _trailing(w_order: WindowSpec, window: int) -> WindowSpec:
    return w_order.rowsBetween(-(window - 1), 0)


def sma(col: str, window: int, w_order: WindowSpec) -> Column:
    frame = _trailing(w_order, window)
    full = F.count(F.col("`" + col + "`")).over(frame) >= window
    return F.when(full, F.avg(F.col("`" + col + "`")).over(frame))


def smm(col: str, window: int, w_order: WindowSpec) -> Column:
    frame = _trailing(w_order, window)
    full = F.count(F.col("`" + col + "`")).over(frame) >= window
    return F.when(full, F.expr(f"percentile(`{col}`, 0.5)").over(frame))


def rolling_min(col: str, window: int, w_order: WindowSpec) -> Column:
    """W4 — trailing rolling min (threshold calc), min_periods=window."""
    frame = _trailing(w_order, window)
    full = F.count(F.col("`" + col + "`")).over(frame) >= window
    return F.when(full, F.min(F.col("`" + col + "`")).over(frame))


SMOOTHERS = {"smm": smm, "sma": sma}


def smoother(
    cols: Sequence[str],
    method: str = "smm",
    window: int = 144,
    ts_col: str = "ts",
    machine_col: str | None = None,
    prefix: str = "smooth_",
) -> Callable[[DataFrame], DataFrame]:
    """W5 — ``<prefix><c>``, column ``c`` through one smoothing method, for
    N columns in a single select (one window shuffle shared by all
    columns); any column name works, dotted tag names included. The window
    Columns are built once: the function returned adds them to any frame
    that carries ``cols``."""
    if method == "ewma":
        return lambda df: ewma(df, cols, span=window, ts_col=ts_col, machine_col=machine_col, prefix=prefix)
    fn = SMOOTHERS[method]
    w = (Window.partitionBy(machine_col) if machine_col else Window.partitionBy()).orderBy(ts_col)
    smoothed = [fn(c, window, w).alias(f"{prefix}{c}") for c in cols]
    return lambda df: df.select("*", *smoothed)


def smooth(df: DataFrame, *args, **kwargs) -> DataFrame:
    """``df`` plus the smoothed columns: ``smoother(*args, **kwargs)``
    applied to it."""
    return smoother(*args, **kwargs)(df)


def ewma(
    df: DataFrame,
    cols: Sequence[str],
    span: int = 144,
    ts_col: str = "ts",
    machine_col: str | None = None,
    prefix: str = "smooth_",
) -> DataFrame:
    """W3 — exact pandas ``ewm(span=span, adjust=True).mean()`` per column,
    computed per group via Arrow-batched applyInPandas. The pandas pass
    sees the columns under positional names, since ``applyInPandas``
    resolves a dotted name (``GRA-TE  -23-0733.PV``) as a nested field."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    pos = {c: f"_c{i}" for i, c in enumerate(df.columns)}
    out = {pos[c]: f"_s{i}" for i, c in enumerate(cols)}
    safe = df.toDF(*pos.values())
    schema = StructType(
        list(safe.schema.fields) + [StructField(s, DoubleType()) for s in out.values()]
    )

    def _ewm(pdf):
        pdf = pdf.sort_values(pos[ts_col])
        for c, s in out.items():
            pdf[s] = pdf[c].ewm(span=span, adjust=True).mean()
        return pdf

    if machine_col:
        smoothed = safe.groupBy(pos[machine_col]).applyInPandas(_ewm, schema=schema)
    else:
        # single machine: one logical series — a single group keyed by a literal
        smoothed = (
            safe.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(lambda p: _ewm(p.drop(columns="_g")), schema=schema)
        )
    return smoothed.toDF(*df.columns, *[f"{prefix}{c}" for c in cols])


def rolling_zscore(
    df: DataFrame,
    value_col: str = "value",
    window: int = 24,
    threshold: float = 2.0,
    ts_col: str = "ts",
    machine_col: str = "tag",
) -> DataFrame:
    """Trailing rolling z-score per series: ``z = (x - mean_w) / std_w``
    over the previous ``window`` samples (min_periods=window, sample
    std), with an outlier flag at ``|z| > threshold`` — the classic
    online spike detector a sensor-cleaning pass runs before resampling
    feeds a model.

    One window pass PARTITIONED by the series key (the fleet shape —
    never a global window); z and the flag come from the same frame, so
    no second shuffle. First ``window-1`` rows and zero-variance frames
    yield NULL z / flag 0, matching pandas ``rolling(min_periods=w)``.
    Mean/std are rounded to 6dp before the ratio so the boundary is
    engine-portable (summation-order ulps would otherwise leak into z).
    """
    frame = _trailing(
        Window.partitionBy(machine_col).orderBy(ts_col), window
    )
    v = F.col("`" + value_col + "`")
    full = F.count(v).over(frame) >= window
    mean = qround(F.avg(v).over(frame), 6)
    std = qround(F.stddev_samp(v).over(frame), 6)
    z = F.when(full & (std > 0), qround((v - mean) / std, 6))
    return df.select(
        machine_col,
        ts_col,
        value_col,
        z.alias("zscore"),
        F.when(F.abs(z) > threshold, 1).otherwise(0).alias("is_outlier"),
    )


def cusum_drift(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    part_cols: Sequence[str] = ("tag",),
    slack_k: float = 0.5,
    threshold_h: float = 5.0,
) -> DataFrame:
    """One-sided CUSUM drift detection (Page 1954): the change-point
    statistic s_t = max(0, s_{t-1} + (x_t - mu)/sigma - k), alarm when
    s_t > h — catches slow sensor drift that threshold-on-value anomaly
    scoring (the reference's diff.py family) structurally misses.

    The recursion has the exact REFLECTION identity
        s_t = S_t - min(0, min_{j<=t} S_j),  S_t = cumsum(d_j),
    so it computes as two ordinary window functions over one partition
    spec (cumulative sum + running min) — no recursion, no
    applyInPandas, pure codegen; the DuckDB oracle states the same two
    windows. mu/sigma are the series' own mean/stddev_pop (one
    aggregate, joined back on the bounded series key), the standard
    self-referenced parameterization when no training window is given.
    Every window is PARTITIONED by the series key; rounded to 6dp for
    engine portability.

    Requires ``(part_cols, ts_col)`` to be UNIQUE: the cumulative frames
    are ROWS-based (matching an explicit ``ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW`` in the oracle), and a cumulative sum
    over tied timestamps has no well-defined order in ANY engine —
    dedupe or sub-order upstream first.
    """
    parts = [F.col(c) for c in part_cols]
    stats = df.groupBy(*part_cols).agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_pop(value_col).alias("_sd"),
    )
    d = (F.col(value_col) - F.col("_mu")) / F.col("_sd") - F.lit(float(slack_k))
    w = Window.partitionBy(*parts).orderBy(ts_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    joined = df.join(stats, list(part_cols))
    S = F.sum(d).over(wcum)
    out = joined.select(
        *parts,
        F.col(ts_col),
        F.col(value_col),
        S.alias("_S"),
    ).select(
        *parts,
        ts_col,
        value_col,
        qround(
            F.col("_S") - F.least(F.lit(0.0), F.min("_S").over(wcum)), 6
        ).alias("cusum"),
    )
    return out.withColumn("alarm", F.col("cusum") > float(threshold_h))


def holt(
    df: DataFrame,
    value_col: str = "value",
    alpha: float = 0.2,
    beta: float = 0.1,
    ts_col: str = "ts",
    machine_col: str | None = None,
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per series — the
    trend-aware upgrade of the reference's ewm smoothing
    (diff.py:302-308): level ``l_t = a*x_t + (1-a)*(l_{t-1}+b_{t-1})``,
    trend ``b_t = B*(l_t-l_{t-1}) + (1-B)*b_{t-1}`` (Holt 1957), with
    ``l_1 = x_1, b_1 = 0``. Appends the smoothed level, the trend, and
    the one-step-ahead forecast ``l_t + b_t`` — the residual
    ``x_{t+1} - forecast_t`` is the drift-robust anomaly signal a plain
    EWMA residual is not. NaN observations COAST: they emit NaN and
    leave the (l, b) state untouched, so one bad bucket cannot poison
    the rest of the series (naive substitution would propagate NaN
    through the recursion forever).

    Recursive over all history, so it runs on the sanctioned slow path:
    Arrow-batched ``applyInPandas``, ONE group per series key, identical
    to :func:`ewma` (the grouping key is the parallelism unit — fleet
    scaling comes from many series, never from splitting one). The SQL
    oracle states the same recursion as a per-series recursive CTE.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    a, b = float(alpha), float(beta)
    group_cols = [machine_col] if machine_col else []
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("forecast", DoubleType()),
        ]
    )

    def _holt(pdf):
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype=float)
        lev = np.full(len(x), np.nan)
        tr = np.full(len(x), np.nan)
        # NaN observations emit NaN and leave the (l, b) state untouched
        # (state coasts — the next real sample resumes the recursion),
        # so one bad bucket cannot poison the rest of the series the way
        # naive NaN propagation would
        l_s, b_s, started = 0.0, 0.0, False
        for i in range(len(x)):
            if np.isnan(x[i]):
                continue
            if not started:
                l_s, b_s, started = x[i], 0.0, True
            else:
                prev = l_s
                l_s = a * x[i] + (1.0 - a) * (l_s + b_s)
                b_s = b * (l_s - prev) + (1.0 - b) * b_s
            lev[i], tr[i] = l_s, b_s
        pdf["level"], pdf["trend"] = lev, tr
        pdf["forecast"] = lev + tr
        return pdf

    if group_cols:
        return df.groupBy(*group_cols).applyInPandas(_holt, schema=schema)
    return (
        df.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda p: _holt(p.drop(columns="_g")), schema=schema)
    )


def holt_winters(
    df: DataFrame,
    period: int,
    value_col: str = "value",
    alpha: float = 0.2,
    beta: float = 0.1,
    gamma: float = 0.3,
    ts_col: str = "ts",
    machine_col: str | None = None,
) -> DataFrame:
    """Holt-Winters additive triple-exponential smoothing per series —
    the seasonal upgrade of :func:`holt` (Winters 1960): level
    ``l_t = a*(x_t - s_{t-m}) + (1-a)*(l_{t-1} + b_{t-1})``, trend
    ``b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}``, seasonal
    ``s_t = g*(x_t - l_t) + (1-g)*s_{t-m}``, one-step forecast
    ``l_t + b_t + s_{t+1-m}``. A daily-cycling sensor under a slow
    drift needs all three terms; holt's residual would flag every
    morning as an anomaly.

    Initialization (deterministic, stated): the first ``period`` rows
    seed the state — ``l_m = mean(x_1..x_m)``, ``b_m = 0``,
    ``s_i = x_i - l_m`` — and emit NULL outputs (no smoothed value
    exists before one full season); the recursion starts at row
    ``m+1``. NaN observations coast exactly as in :func:`holt` (state
    untouched, NaN emitted).

    Same execution posture as holt/ewma: recursive over history, so it
    runs Arrow-batched ``applyInPandas`` with ONE group per series key
    (fleet scaling = many series); the oracle states the identical
    recursion as a recursive CTE carrying the seasonal vector as a
    list.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    m = int(period)
    if m < 2:
        raise ValueError("period must be >= 2")
    a, b, g = float(alpha), float(beta), float(gamma)
    group_cols = [machine_col] if machine_col else []
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("seasonal", DoubleType()),
            StructField("forecast", DoubleType()),
        ]
    )

    def _hw(pdf):
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype=float)
        n = len(x)
        lev = np.full(n, np.nan)
        tr = np.full(n, np.nan)
        sea = np.full(n, np.nan)
        fc = np.full(n, np.nan)
        # seed from the first m NON-NaN samples (a NaN inside the first
        # season extends the warmup, it does not abort the series) —
        # identical to the streaming form's buffered warmup, and to the
        # NaN-free case the oracle states
        l_s, b_s, s, buf = 0.0, 0.0, None, []
        for i in range(n):
            if s is None:
                if not np.isnan(x[i]):
                    buf.append(float(x[i]))
                    if len(buf) == m:
                        l_s = float(np.mean(buf))
                        b_s = 0.0
                        s = [v - l_s for v in buf]
                continue
            if np.isnan(x[i]):
                # coast: emit NaN, rotate the seasonal window so phase
                # stays aligned with the grid
                s.append(s.pop(0))
                continue
            s_old = s.pop(0)
            prev = l_s
            l_s = a * (x[i] - s_old) + (1.0 - a) * (l_s + b_s)
            b_s = b * (l_s - prev) + (1.0 - b) * b_s
            s_new = g * (x[i] - l_s) + (1.0 - g) * s_old
            s.append(s_new)
            lev[i], tr[i], sea[i] = l_s, b_s, s_new
            fc[i] = l_s + b_s + s[0]
        pdf["level"], pdf["trend"], pdf["seasonal"], pdf["forecast"] = (
            lev,
            tr,
            sea,
            fc,
        )
        return pdf

    if group_cols:
        return df.groupBy(*group_cols).applyInPandas(_hw, schema=schema)
    return (
        df.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda p: _hw(p.drop(columns="_g")), schema=schema)
    )


def mad_zscore(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    machine_col: str = "tag",
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier detection via the modified z-score (Iglewicz &
    Hoaglin 1993): ``z = 0.6745 * (x - median) / MAD`` with MAD the
    median absolute deviation — the robust companion of
    :func:`rolling_zscore`: mean/std themselves move when spikes hit,
    so the classic z under-flags exactly the events it exists to catch;
    median/MAD have a 50% breakdown point. The canonical |z| > 3.5 cut.

    Both medians are WINDOW aggregates over the same PARTITION BY
    series-key spec (whole-partition frame, no ordering) in two stacked
    selects — one key shuffle total, no join-backs, no input re-scans
    (the aggregate+join formulation re-derives the input once per
    statistic; Spark does not unify separately-built aggregation
    branches). The fleet shape: every window partitioned by the series
    key, like rolling_zscore. Zero-MAD series (constant, or >50% one
    value) yield NULL z / flag 0, like rolling_zscore's zero-variance
    rule. Median and MAD are rounded to 6dp before the ratio so
    interpolation ulps cannot leak into the flag boundary.
    """
    w = Window.partitionBy(machine_col)
    v = F.col("`" + value_col + "`")
    with_med = df.select(
        machine_col,
        ts_col,
        value_col,
        qround(F.expr(f"percentile(`{value_col}`, 0.5)").over(w), 6).alias(
            "_med"
        ),
    )
    with_mad = with_med.select(
        machine_col,
        ts_col,
        value_col,
        "_med",
        qround(
            F.expr("percentile(abs(`" + value_col + "` - _med), 0.5)").over(w), 6
        ).alias("_mad"),
    )
    z = F.when(
        F.col("_mad") > 0,
        qround(F.lit(0.6745) * (v - F.col("_med")) / F.col("_mad"), 6),
    )
    return with_mad.select(
        machine_col,
        ts_col,
        value_col,
        z.alias("mad_z"),
        F.when(F.abs(z) > threshold, 1).otherwise(0).alias("is_outlier"),
    )


def hampel(
    df: DataFrame,
    k: int = 5,
    n_sigmas: float = 3.0,
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hampel filter: rolling-median outlier detection + repair. For
    each point, the window is the ±``k`` surrounding rows; the point is
    an outlier when ``|v - med| > n_sigmas * 1.4826 * MAD`` (MAD = the
    median absolute deviation FROM THAT WINDOW'S median — the rolling
    counterpart of the global ``mad_zscore``, robust where a spike
    would drag a rolling mean). ``filtered`` repairs outliers to the
    window median, the classic despike step before model training.

    The window median and MAD both come from ONE ``collect_list`` frame
    per row turned into row-local sorted-array algebra (windows are
    2k+1 <= a few dozen elements — array math, not a second windowed
    aggregate, because MAD's deviations depend on the current row's
    median and so cannot be a precomputed column). One per-tag ordered
    window pass; no joins.

    Output: ``(tag, ts, value, med, is_outlier, filtered)``.
    """
    kk = int(k)
    w = (
        Window.partitionBy(tag_col)
        .orderBy(ts_col)
        .rowsBetween(-kk, kk)
    )
    arr = F.array_sort(F.collect_list(value_col).over(w))
    # exact median of a sorted array (even length averages the middle two)
    med_expr = (
        "(_arr[cast((size(_arr) - 1) / 2 as int)]"
        " + _arr[cast(size(_arr) / 2 as int)]) / 2"
    )
    d = df.withColumn("_arr", arr).withColumn("_med", F.expr(med_expr))
    dev = F.expr(
        "array_sort(transform(_arr, x -> abs(x - _med)))"
    )
    d = d.withColumn("_dev", dev).withColumn(
        "_mad",
        F.expr(
            "(_dev[cast((size(_dev) - 1) / 2 as int)]"
            " + _dev[cast(size(_dev) / 2 as int)]) / 2"
        ),
    )
    thresh = F.lit(float(n_sigmas)) * 1.4826 * F.col("_mad")
    is_out = F.abs(F.col(value_col) - F.col("_med")) > thresh
    return d.select(
        tag_col,
        ts_col,
        value_col,
        qround("_med", 6).alias("med"),
        is_out.alias("is_outlier"),
        qround(
            F.when(is_out, F.col("_med")).otherwise(F.col(value_col)), 6
        ).alias("filtered"),
    )


def peaks(
    df: DataFrame,
    k: int = 3,
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Local-maximum peak detection: points strictly greater than every
    neighbor within ±``k`` rows (the discrete "dominance window" form —
    scipy's ``argrelmax`` with order=k). Emits only the peaks, with the
    margin over the stronger side. Output:
    ``(tag, ts, value, left_max, right_max, margin)``.

    Two bounded frames over ONE per-tag ordered window pass (max of the
    k rows before / after); edge rows with an empty side count as peaks
    when they dominate the side that exists (null side-max). No joins.
    """
    kk = int(k)
    wb = Window.partitionBy(tag_col).orderBy(ts_col)
    lmax = F.max(value_col).over(wb.rowsBetween(-kk, -1))
    rmax = F.max(value_col).over(wb.rowsBetween(1, kk))
    d = df.withColumn("_lm", lmax).withColumn("_rm", rmax)
    is_peak = (
        F.col("_lm").isNull() | (F.col(value_col) > F.col("_lm"))
    ) & (F.col("_rm").isNull() | (F.col(value_col) > F.col("_rm")))
    return d.filter(is_peak).select(
        tag_col,
        ts_col,
        value_col,
        F.col("_lm").alias("left_max"),
        F.col("_rm").alias("right_max"),
        qround(
            F.when(
                F.col("_lm").isNotNull() | F.col("_rm").isNotNull(),
                F.col(value_col)
                - F.greatest(
                    F.coalesce("_lm", F.col("_rm")),
                    F.coalesce("_rm", F.col("_lm")),
                ),
            ),
            6,
        ).alias("margin"),
    )


def holt_backtest(
    df: DataFrame,
    value_col: str = "value",
    alpha: float = 0.2,
    beta: float = 0.1,
    ts_col: str = "ts",
    machine_col: str | None = None,
) -> DataFrame:
    """One-step-ahead backtest of :func:`holt`: score yesterday's
    forecast against today's actual over the whole history — the
    evidence that earns a smoothing configuration its alerting
    thresholds (an (alpha, beta) pair is not trusted because it
    smooths nicely; it is trusted because its one-step errors are
    small and unbiased).

    Per series: ``err_t = x_t - forecast_{t-1}`` (one lag window over
    the Holt output, forecast rounded to 6dp first so the metric is
    engine-exact), then ONE aggregation: ``n`` scored points, ``bias``
    (mean signed error — a drifting series shows it first), ``mae``,
    ``rmse``, and ``mape`` (zero actuals excluded from the ratio,
    stated). Adds nothing to Holt's cost profile beyond the window:
    the recursion already ran on the sanctioned per-series Arrow path.
    Output: ``(machine?, n, bias, mae, rmse, mape)``.
    """
    h = holt(df, value_col, alpha=alpha, beta=beta, ts_col=ts_col,
             machine_col=machine_col)
    keys = [machine_col] if machine_col else []
    w = Window.partitionBy(*keys).orderBy(ts_col)
    f_prev = F.lag(qround("forecast", 6)).over(w)
    err = F.col(value_col) - f_prev
    scored = h.select(
        *keys,
        F.col(value_col),
        err.alias("_e"),
    ).filter(F.col("_e").isNotNull())
    grouped = scored.groupBy(*keys) if keys else scored.groupBy()
    return grouped.agg(
        F.count(F.lit(1)).alias("n"),
        qround(F.avg("_e"), 6).alias("bias"),
        qround(F.avg(F.abs("_e")), 6).alias("mae"),
        qround(F.sqrt(F.avg(F.col("_e") * F.col("_e"))), 6).alias("rmse"),
        qround(
            F.avg(
                F.when(
                    F.col(value_col) != 0,
                    F.abs(F.col("_e") / F.col(value_col)),
                )
            ),
            6,
        ).alias("mape"),
    )


def kalman_level(
    df: DataFrame,
    value_col: str = "value",
    q: float = 0.01,
    r: float = 1.0,
    ts_col: str = "ts",
    machine_col: str | None = None,
) -> DataFrame:
    """Steady-state-free local-level Kalman filter per series (the
    random-walk-plus-noise model, Harvey 1989): predict
    ``P_pred = P + q``; gain ``K = P_pred / (P_pred + r)``; update
    ``x = x + K (z - x)``, ``P = (1 - K) P_pred``. Unlike the EWMA
    (whose fixed alpha IS the converged Kalman gain), the filter
    carries its UNCERTAINTY: early samples and post-gap samples get a
    larger gain, so the smoothed level locks on in a few steps instead
    of dragging the alpha-weighted burn-in — and the emitted ``p``
    column is a per-point confidence the EWMA cannot give. Init
    (stated): ``x_1 = z_1, P_1 = r``.

    NaN observations COAST with widening uncertainty: the state emits
    NaN, ``x`` holds, but ``P += q`` still accrues (a gap makes the
    next real sample count for more — exactly the behavior the coasting
    EWMA lacks). Same execution posture as holt/ewma: recursive over
    history -> Arrow-batched ``applyInPandas``, ONE group per series
    key, fleet scaling from many series; the oracle states the same
    recursion as a recursive CTE carrying (x, P). Appends ``level``
    (filtered x), ``gain`` (K), ``p`` (posterior variance).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    qv, rv = float(q), float(r)
    if qv < 0 or rv <= 0:
        raise ValueError("need q >= 0 and r > 0")
    group_cols = [machine_col] if machine_col else []
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("level", DoubleType()),
            StructField("gain", DoubleType()),
            StructField("p", DoubleType()),
        ]
    )

    def _kalman(pdf):
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        z = pdf[value_col].to_numpy(dtype=float)
        lev = np.full(len(z), np.nan)
        gain = np.full(len(z), np.nan)
        pv = np.full(len(z), np.nan)
        x, p, started = 0.0, 0.0, False
        for i in range(len(z)):
            if np.isnan(z[i]):
                if started:
                    p = p + qv  # uncertainty accrues through the gap
                continue
            if not started:
                x, p, started = z[i], rv, True
                lev[i], gain[i], pv[i] = x, 1.0, p
                continue
            p_pred = p + qv
            k = p_pred / (p_pred + rv)
            x = x + k * (z[i] - x)
            p = (1.0 - k) * p_pred
            lev[i], gain[i], pv[i] = x, k, p
        pdf["level"], pdf["gain"], pdf["p"] = lev, gain, pv
        return pdf

    if group_cols:
        return df.groupBy(*group_cols).applyInPandas(_kalman, schema=schema)
    return (
        df.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda p: _kalman(p.drop(columns="_g")), schema=schema)
    )


def ewm_volatility(
    df: DataFrame,
    value_col: str = "value",
    lam: float = 0.94,
    n_sigmas: float = 3.0,
    ts_col: str = "ts",
    machine_col: str | None = None,
) -> DataFrame:
    """Exponentially weighted mean + VARIANCE per series (the
    RiskMetrics recursion): ``s_t = lam*s_{t-1} + (1-lam)*x_t``,
    ``v_t = lam*v_{t-1} + (1-lam)*(x_t - s_{t-1})^2`` with
    ``s_1 = x_1, v_1 = 0`` — adaptive control bands where
    rolling_zscore's fixed window lags regime changes: after a
    volatility shift the EW variance re-levels in ~1/(1-lam) samples
    while a 24-sample window carries the old regime for 24. Emits
    ``ew_mean``, ``ew_std`` and the band-breach flag
    ``|x_t - s_{t-1}| > n_sigmas * sqrt(v_{t-1})`` (tested against the
    PRIOR state, so the breach itself does not inflate the band that
    judges it; the first sample and zero-variance warmup emit flag 0,
    stated). NaN observations coast (state untouched, NaN emitted) —
    the holt/kalman convention.

    Same execution posture as ewma/holt/kalman_level: recursive over
    history -> Arrow-batched ``applyInPandas``, ONE group per series
    key; the oracle states the identical recursion as a per-series
    recursive CTE carrying (s, v).
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    lm = float(lam)
    if not (0.0 < lm < 1.0):
        raise ValueError("lam must be in (0, 1)")
    k = float(n_sigmas)
    group_cols = [machine_col] if machine_col else []
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("ew_mean", DoubleType()),
            StructField("ew_std", DoubleType()),
            StructField("breach", IntegerType()),
        ]
    )

    def _ewmv(pdf):
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype=float)
        mean = np.full(len(x), np.nan)
        std = np.full(len(x), np.nan)
        breach = np.zeros(len(x), dtype="int32")
        s, v, started = 0.0, 0.0, False
        for i in range(len(x)):
            if np.isnan(x[i]):
                continue
            if not started:
                s, v, started = x[i], 0.0, True
                mean[i], std[i] = s, 0.0
                continue
            if v > 0 and abs(x[i] - s) > k * math.sqrt(v):
                breach[i] = 1
            v = lm * v + (1.0 - lm) * (x[i] - s) * (x[i] - s)
            s = lm * s + (1.0 - lm) * x[i]
            mean[i], std[i] = s, math.sqrt(v)
        pdf["ew_mean"], pdf["ew_std"] = mean, std
        pdf["breach"] = breach
        return pdf

    if group_cols:
        return df.groupBy(*group_cols).applyInPandas(_ewmv, schema=schema)
    return (
        df.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda p: _ewmv(p.drop(columns="_g")), schema=schema)
    )
