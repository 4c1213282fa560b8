"""The TimeSeriesDataset plan — gordo's defining query as one DataFrame DAG.

Reference: ``dataset.get_data() -> (X, y)`` is where the whole query
executes in gordo (gordo/builder/build_model.py:204-215); the complete knob
set is the serialized TimeSeriesDataset dict in reference
tests/gordo/workflow/test_config_elements.py:138-165:

    scan(tag_list, [train_start, train_end))        S1
      -> resample(resolution, aggregation_methods)  J1
      -> regularize + interpolate(method, limit)    J2
      -> pivot to wide + inner align (dropna)       J3
      -> known_filter_periods / filter_periods      P4
      -> row_filter (+ buffer)                      P3
      -> n_samples_threshold                        P6
      -> X = tag_list cols, y = target_tag_list     J4

Catalyst gets the whole chain declaratively: the ts/tag predicates reach the
scan, pruning partitions; the resample is one partial-aggregated shuffle;
interpolation and pivot share the per-tag partitioning. For thousands of
machines, run one plan per machine over the shared scan (tag sets overlap)
or union plans with a machine key — no K8s pod per machine needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from gordo_spark.operators import (
    apply_row_filter,
    filter_periods,
    inner_align,
    interpolate,
    known_filter_periods,
    pivot_wide,
    regularize_grid,
    require_n_samples,
    resample_aggregate,
    split_xy,
)
from gordo_spark.sources import DataProvider, provider_from_dict


@dataclass
class TimeSeriesDataset:
    """Declarative dataset spec (mirrors the reference's config surface)."""

    tag_list: list[str]
    train_start_date: datetime | str | None = None
    train_end_date: datetime | str | None = None
    target_tag_list: list[str] | None = None
    additional_tags: list[str] | None = None
    resolution: str = "10T"
    aggregation_methods: str | list[str] = "mean"
    interpolation_method: str = "linear_interpolation"
    interpolation_limit: str | None = "48H"
    row_filter: str = ""
    row_filter_buffer_size: int = 0
    filter_periods: dict | None = None
    known_filter_periods: list[tuple] | None = None
    n_samples_threshold: int = 0
    data_provider: DataProvider | dict = field(default_factory=dict)

    def provider(self) -> DataProvider:
        if isinstance(self.data_provider, DataProvider):
            return self.data_provider
        return provider_from_dict(self.data_provider)

    @property
    def x_tags(self) -> list[str]:
        """Model-input tags: tag_list plus the ``additional_tags`` extras
        (reference knob, tests/gordo/workflow/test_config_elements.py:140 —
        extra inputs for X that are never part of the y default)."""
        return list(dict.fromkeys(self.tag_list + (self.additional_tags or [])))

    @property
    def all_tags(self) -> list[str]:
        return list(
            dict.fromkeys(self.x_tags + (self.target_tag_list or []))
        )

    @property
    def _agg_list(self) -> list[str]:
        m = self.aggregation_methods
        return [m] if isinstance(m, str) else list(m)

    @property
    def x_cols(self) -> list[str]:
        """Wide-frame columns of the model inputs (the expanded ``x_tags``)."""
        return self._expand(self.x_tags)

    @property
    def y_cols(self) -> list[str]:
        """Wide-frame columns of the targets. y defaults to tag_list, NOT
        x_tags — additional_tags are extra INPUTS only (reference
        server/properties.py:86-104 falls back to the plain tag_list when
        target_tag_list is absent)."""
        return self._expand(self.target_tag_list or self.tag_list)

    def _expand(self, tags: list[str]) -> list[str]:
        """Wide-column names: plain tag for a single aggregation, else one
        ``<tag>__<agg>`` column per (tag, agg) — the reference's MultiIndex
        (tag, aggregation_method) columns flattened
        (gordo-core list-aggregation surface, SURVEY.md §2.3 J1)."""
        aggs = self._agg_list
        if len(aggs) == 1:
            return tags
        return [f"{t}__{a}" for t in tags for a in aggs]

    def long_resampled(self, spark: SparkSession) -> DataFrame:
        """Scan -> resample, still long ``(tag, ts, value)``. This is the
        expensive shared prefix (full scan + the one aggregation shuffle) —
        multi-machine plans share it across machines (see plans.multi).

        With a list of aggregation_methods the resampled frame is melted
        back to long with synthetic ``<tag>__<agg>`` tag names, so the rest
        of the plan (grid/interpolate/pivot) is aggregation-agnostic."""
        from pyspark.sql import functions as F

        raw = self.provider().read(
            spark, self.all_tags, self.train_start_date, self.train_end_date
        )
        res = resample_aggregate(raw, self.resolution, self.aggregation_methods)
        aggs = self._agg_list
        if len(aggs) == 1:
            return res
        pairs = ", ".join(f"'{a}', `value_{a}`" for a in aggs)
        return res.select(
            "tag", "ts", F.expr(f"stack({len(aggs)}, {pairs}) AS (agg, value)")
        ).select(
            F.concat_ws("__", F.col("tag"), F.col("agg")).alias("tag"), "ts", "value"
        )

    def fill(self, res: DataFrame) -> DataFrame:
        """Regularize to the dense grid and interpolate bounded gaps. Runs
        *after* any per-machine range clipping so fills never use anchors a
        solo scan would not have seen."""
        reg = regularize_grid(res, self.resolution)
        return interpolate(
            reg,
            self.resolution,
            self.interpolation_method,
            self.interpolation_limit,
        )

    def long_filled(self, spark: SparkSession) -> DataFrame:
        return self.fill(self.long_resampled(spark))

    def finalize_wide(self, filled: DataFrame) -> DataFrame:
        """The per-machine tail: pivot -> inner align -> period/row filters."""
        tags = self._expand(self.all_tags)
        wide = inner_align(pivot_wide(filled, tags), tags)
        if self.known_filter_periods:
            wide = known_filter_periods(wide, self.known_filter_periods)
        if self.filter_periods:
            fp = dict(self.filter_periods)
            wide = filter_periods(
                wide,
                tags,
                filter_method=fp.get("filter_method", "median"),
                window=fp.get("window", 144),
                n_iqr=fp.get("n_iqr", 5),
            )
        if self.row_filter:
            wide = apply_row_filter(
                wide, self.row_filter, self.row_filter_buffer_size
            )
        return wide

    def wide_frame(self, spark: SparkSession) -> DataFrame:
        """The aligned wide matrix (all tags incl. targets), pre-split."""
        return self.finalize_wide(self.long_filled(spark))

    def get_data(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        """(X, y) — the reference's dataset.get_data() parity point."""
        wide = require_n_samples(self.wide_frame(spark), self.n_samples_threshold)
        return split_xy(wide, self.x_cols, self.y_cols)
