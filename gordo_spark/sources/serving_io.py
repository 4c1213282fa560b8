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
the one ``createDataFrame``; only ``dataframe_to_dict`` reads Spark.
"""

from __future__ import annotations

import io
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame


def dataframe_from_dict(data: dict | list, ts_col: str = "ts") -> pd.DataFrame:
    """JSON request -> pandas frame. Accepts ``{"X": [[...]]}``-style lists
    of rows (positional columns named c0..cn) or nested ``{col: {ts: val}}``
    dicts; index parsed as ISO datetimes when possible, else as ints, rows
    sorted; the index becomes ``ts_col``."""
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
        pdf.index = pd.to_datetime(pdf.index, utc=True).tz_localize(None)
    except (ValueError, TypeError):
        pdf.index = pdf.index.astype(int)
    return pdf.sort_index().reset_index(names=ts_col)


def dataframe_to_dict(df: DataFrame, ts_col: str = "ts") -> dict:
    """DataFrame -> nested response dict; ``top__second`` columns regroup
    into two levels (MultiIndex parity)."""
    pdf = df.toPandas()
    if ts_col in pdf.columns:
        pdf = pdf.set_index(ts_col)
        # positional payloads carry integer row keys, not timestamps
        pdf.index = pdf.index.map(
            lambda t: t.isoformat() if hasattr(t, "isoformat") else t
        )
    for col in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[col]):
            pdf[col] = pdf[col].map(lambda t: t.isoformat())
    out: dict = {}
    for col in pdf.columns:
        if "__" in col:
            top, second = col.split("__", 1)
            out.setdefault(top, {})[second] = pdf[col].to_dict()
        else:
            out[col] = pdf[col].to_dict()
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
