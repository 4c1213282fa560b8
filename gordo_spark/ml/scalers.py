"""Scalers as fit-stats + column expressions (bit-parity with sklearn).

The reference uses sklearn MinMaxScaler / RobustScaler inside pipelines and
applies the scaler to y for the scaled-error calculation
(gordo/machine/model/anomaly/diff.py:24-25,173,350-359 in /root/reference).
MLlib's vector-based scalers would force assemble/disassemble round trips;
per-column expressions with train-time stats give exact sklearn math and
stay inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def _q(c: str) -> Column:
    return F.col("`" + c + "`")


def center_spread(kind: str, stat: tuple[float, float]) -> tuple[float, float]:
    """(center, divisor) of one column's ``stats`` entry: (min, max - min)
    for ``minmax``, (median, IQR) for ``robust``; a zero divisor becomes
    1.0, as in the scalers' ``expr``."""
    a, b = stat
    spread = (b - a) if kind == "minmax" else b
    return a, (spread if spread else 1.0)


class _ColumnScaler:
    """Per-column ``stats`` from ``fit``; ``transform`` applies ``expr``."""

    def __init__(self, cols: Sequence[str]):
        self.cols = list(cols)
        self.stats: dict[str, tuple[float, float]] | None = None

    def transform(self, df: DataFrame) -> DataFrame:
        out = df
        for c in self.cols:
            out = out.withColumn(c, self.expr(c))
        return out


class MinMaxScalerExpr(_ColumnScaler):
    """sklearn MinMaxScaler (feature_range (0,1)): (x - min)/(max - min)."""

    def fit(self, df: DataFrame) -> "MinMaxScalerExpr":
        aggs = []
        for c in self.cols:
            aggs += [F.min(_q(c)).alias(f"_mn_{c}"), F.max(_q(c)).alias(f"_mx_{c}")]
        row = df.agg(*aggs).collect()[0]
        self.stats = {c: (row[f"_mn_{c}"], row[f"_mx_{c}"]) for c in self.cols}
        return self

    def expr(self, c: str) -> Column:
        mn, mx = self.stats[c]
        rng = (mx - mn) if mx != mn else 1.0
        return (_q(c) - F.lit(mn)) / F.lit(rng)


class RobustScalerExpr(_ColumnScaler):
    """sklearn RobustScaler: (x - median) / IQR (with_centering/scaling)."""

    def fit(self, df: DataFrame) -> "RobustScalerExpr":
        aggs = []
        for c in self.cols:
            aggs += [
                F.expr(f"percentile(`{c}`, 0.5)").alias(f"_md_{c}"),
                (
                    F.expr(f"percentile(`{c}`, 0.75)")
                    - F.expr(f"percentile(`{c}`, 0.25)")
                ).alias(f"_iqr_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        self.stats = {c: (row[f"_md_{c}"], row[f"_iqr_{c}"]) for c in self.cols}
        return self

    def expr(self, c: str) -> Column:
        md, iqr = self.stats[c]
        return (_q(c) - F.lit(md)) / F.lit(iqr if iqr else 1.0)
