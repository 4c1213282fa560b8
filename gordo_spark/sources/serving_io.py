"""S4/S5/S6/P1 — serving request/response shaping.

Reference semantics:
- ``dataframe_from_dict`` (S4): nested dict -> frame; index keys parsed as
  ISO datetimes else ints; rows SORTED by parsed index
  (gordo/server/utils.py:145-195 in /root/reference).
- parquet request/response (S5): frame <-> parquet bytes, pyarrow+snappy
  (gordo/server/utils.py:47-83).
- ``dataframe_to_dict`` (S6): frame -> nested dict keyed by top-level
  column (gordo/server/utils.py:86-142); MultiIndex columns flatten to
  ``top__second`` names here.
- column verification (P1): select expected tags, order-normalize, rename
  positional inputs, reject arity mismatch (gordo/server/utils.py:208-253).

The request boundary is pandas: requests are small, so they are parsed,
verified and (in ``serving``) X-with-y aligned as pandas frames before
the one ``createDataFrame``; only ``dataframe_to_dict`` reads Spark, by
collecting the response's rows to the driver.
"""

from __future__ import annotations

import io
import math
import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from datetime import timezone

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, FloatType, TimestampType


@contextmanager
def timed(timings: dict | None, phase: str) -> Iterator[None]:
    """Add the seconds the block takes to ``timings[phase]`` (no-op when
    ``timings`` is None): the request phases a response reports."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        if timings is not None:
            timings[phase] = timings.get(phase, 0.0) + time.perf_counter() - t0


def dataframe_from_dict(data: dict | list, ts_col: str = "ts") -> pd.DataFrame:
    """JSON request -> pandas frame. Accepts ``{"X": [[...]]}``-style lists
    of rows (positional columns named c0..cn) or nested ``{col: {ts: val}}``
    dicts; index parsed as ISO 8601 datetimes when possible, else as ints,
    rows sorted; the index becomes ``ts_col``."""
    if isinstance(data, list):
        pdf = pd.DataFrame(data, columns=[f"c{i}" for i in range(len(data[0]))])
        # positional payloads carry no timestamps: the row position IS the
        # key (the reference parses such indexes as ints,
        # gordo/server/utils.py:145-195) — keep it as an integer ts so
        # downstream joins/predict still have a key column
        pdf.insert(0, ts_col, range(len(pdf)))
        return pdf
    pdf = pd.DataFrame.from_dict(data)
    try:
        pdf.index = pd.to_datetime(pdf.index, utc=True, format="ISO8601").tz_localize(None)
    except (ValueError, TypeError):
        pdf.index = pdf.index.astype(int)
    return pdf.sort_index().reset_index(names=ts_col)


def _json_values(dtype, values: list) -> list:
    """A collected column's values as ``toPandas`` handed them to the JSON
    encoder: a null float is NaN, a timestamp is the ISO string of its UTC
    wall clock whatever the process time zone ``collect`` gave it in, and
    a date is ISO too."""
    if isinstance(dtype, TimestampType):
        return [
            v if v is None else v.astimezone(timezone.utc).replace(tzinfo=None).isoformat()
            for v in values
        ]
    if isinstance(dtype, (DoubleType, FloatType)):
        return [math.nan if v is None else v for v in values]
    return [v.isoformat() if hasattr(v, "isoformat") else v for v in values]


def dataframe_to_dict(df: DataFrame, ts_col: str = "ts", timings: dict | None = None) -> dict:
    """DataFrame -> nested response dict keyed by ``ts_col`` (by row number
    without it); ``top__second`` columns regroup into two levels
    (MultiIndex parity). The rows are collected to the driver: a request
    plan over one local frame runs no Spark job. ``timings`` gets the
    ``execute`` (collect) and ``serialize`` phases."""
    with timed(timings, "execute"):
        rows = df.collect()
    with timed(timings, "serialize"):
        columns = {
            f.name: _json_values(f.dataType, [r[i] for r in rows])
            for i, f in enumerate(df.schema.fields)
        }
        keys = columns.pop(ts_col, range(len(rows)))
        out: dict = {}
        for col, values in columns.items():
            series = dict(zip(keys, values))
            if "__" in col:
                top, second = col.split("__", 1)
                out.setdefault(top, {})[second] = series
            else:
                out[col] = series
    return out


def dataframe_into_parquet_bytes(pdf: pd.DataFrame) -> bytes:
    """S5 — response as parquet bytes (snappy, via Arrow); the frame's
    index is written with it, as the reference's is."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(pdf), buf, compression="snappy")
    return buf.getvalue()


def dataframe_from_parquet_bytes(data: bytes) -> pd.DataFrame:
    """S5 — a parquet request part as a pandas frame. Timestamps carried in
    the index (what ``pa.Table.from_pandas`` writes for a DatetimeIndexed
    frame) move into ``ts`` when the part has no such column."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(io.BytesIO(data)).to_pandas()
    if "ts" not in pdf.columns and not isinstance(pdf.index, pd.RangeIndex):
        pdf = pdf.reset_index(names="ts")
    return pdf


def verify_columns(
    df: pd.DataFrame, expected_tags: Sequence[str], ts_col: str = "ts"
) -> pd.DataFrame:
    """P1 — project/reorder to expected tags; positional inputs (c0..cn)
    renamed; arity mismatch rejected (HTTP 400 in the reference)."""
    cols = [c for c in df.columns if c != ts_col]
    expected = list(expected_tags)
    if not set(expected) <= set(cols):
        if len(cols) != len(expected):
            raise ValueError(
                f"column mismatch: got {len(cols)} columns, expected {len(expected)} "
                f"({expected})"
            )
        df = df.rename(columns=dict(zip(cols, expected)))
    return df[([ts_col] if ts_col in df.columns else []) + expected]
