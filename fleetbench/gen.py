"""Seeded inputs for the fleet benchmark workloads.

Everything here is a pure function of the seed: the sensor lake, the fleet
configs, the serving request schedule and payloads, and the stream files.
Nothing imports Spark, so the generator's own cost is plain numpy/pyarrow
time and its output is byte-identical for a seed.

Why each workload exists (the contract the inputs are shaped for):

- ``build_serve`` -- gordo's headline job: configs in, trained anomaly
  models out, then served. Overlapping tag subsets put two machines in one
  plan-prefix group (shared scans in ``plans.multi``); a 15T machine
  starting off the grid takes the solo path. The rebuilds hit the
  config-hash build cache. The requests are ``/anomaly/prediction``,
  ``/prediction`` and ``/metadata`` calls with 100-row payloads (the
  reference harness shape) on a seeded Poisson schedule, machines chosen
  with a Zipf skew so the 2-entry model LRU both hits and misses.
- ``stream_score`` -- the only workload that reaches ``streaming``: a
  backlog of raw files drained one file per micro-batch through the
  watermarked scoring query and the stateful EWMA. No fit and no REST.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np

T0 = np.datetime64("2024-01-01T00:00:00", "s")
MINUTE = 60
N_TAGS = 32
DROP = 0.02  # share of 1-minute readings dropped from the lake
LAKE_FILES = 4
# every 10-minute bucket keeps its minute-5 reading, so every resampled
# bucket of every tag is populated and the aligned grid is predictable
ANCHOR_MINUTE = 5
JITTER_S = 20


# ----------------------------------------------------------------- lake
@dataclass
class Lake:
    """Raw long-form readings, kept in memory for the row-count oracle."""

    tags: list[str]
    tag_idx: np.ndarray  # int index into tags
    ts_s: np.ndarray  # epoch seconds (int64)
    value: np.ndarray  # float64


def _series(rng: np.random.Generator, n_min: int, n_tags: int) -> np.ndarray:
    """(n_tags, n_min) correlated sensor values: two shared latent factors
    plus per-tag noise, so a linear model has something to learn."""
    t = np.arange(n_min) / 1440.0
    daily = np.sin(2 * np.pi * t)
    drift = np.cumsum(rng.normal(0.0, 0.02, n_min))
    a = rng.normal(1.0, 0.3, (n_tags, 1))
    b = rng.normal(0.5, 0.2, (n_tags, 1))
    c = rng.normal(10.0, 2.0, (n_tags, 1))
    noise = rng.normal(0.0, 0.05, (n_tags, n_min))
    return a * daily + b * drift + c + noise


def make_lake(seed: int, days: int, n_tags: int = N_TAGS) -> Lake:
    rng = np.random.default_rng([seed, 1])
    n_min = days * 1440
    tags = [f"tag-{k:02d}" for k in range(n_tags)]
    vals = _series(rng, n_min, n_tags)
    minute = np.arange(n_min)
    idx, ts, value = [], [], []
    for k in range(n_tags):
        keep = (rng.random(n_min) >= DROP) | (minute % 10 == ANCHOR_MINUTE)
        jitter = rng.integers(-JITTER_S, JITTER_S + 1, n_min)
        m = minute[keep]
        idx.append(np.full(m.size, k, dtype=np.int32))
        ts.append(T0.astype(np.int64) + m * MINUTE + jitter[keep])
        value.append(vals[k, keep])
    return Lake(tags, np.concatenate(idx), np.concatenate(ts), np.concatenate(value))


def write_lake(lake: Lake, root: str) -> str:
    """Long-form ``(tag, ts, value)`` parquet, tz-aware UTC timestamps,
    split into ``LAKE_FILES`` files by row order so the scan parallelizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    tag_names = np.array(lake.tags, dtype=object)[lake.tag_idx]
    bounds = np.linspace(0, lake.ts_s.size, LAKE_FILES + 1).astype(int)
    for i in range(LAKE_FILES):
        s = slice(bounds[i], bounds[i + 1])
        table = pa.table(
            {
                "tag": pa.array(tag_names[s], pa.string()),
                "ts": pa.array(lake.ts_s[s] * 1_000_000, pa.timestamp("us", tz="UTC")),
                "value": pa.array(lake.value[s], pa.float64()),
            }
        )
        pq.write_table(table, os.path.join(root, f"part-{i:03d}.parquet"))
    return root


def predicted_rows(lake: Lake, tags: list[str], start: str, end: str, res_s: int) -> int:
    """Rows of a machine's aligned frame: per tag, the regularized grid
    spans its first to last populated bucket within ``[start, end)``; the
    inner align keeps the buckets every tag's grid covers."""
    lo = int(np.datetime64(start.replace("+00:00", ""), "s").astype(np.int64))
    hi = int(np.datetime64(end.replace("+00:00", ""), "s").astype(np.int64))
    first, last = None, None
    for t in tags:
        k = lake.tags.index(t)
        ts = lake.ts_s[(lake.tag_idx == k) & (lake.ts_s >= lo) & (lake.ts_s < hi)]
        b = ts // res_s
        first = b.min() if first is None else max(first, b.min())
        last = b.max() if last is None else min(last, b.max())
    return int(max(0, last - first + 1))


# ---------------------------------------------------------------- fleet
def _iso(sec: int) -> str:
    return str(np.datetime64(int(sec), "s")) + "+00:00"


TAGS_PER_MACHINE = 6


def make_fleet(seed: int, lake_path: str, n_machines: int, days: int, n_tags: int = N_TAGS) -> list[dict]:
    """Machine config dicts: overlapping tag windows over the lake,
    ``days``-long ranges at 10T. The last machine uses 15T and starts 3
    minutes off the grid, so it takes the solo path."""
    rng = np.random.default_rng([seed, 2])
    t0 = int(T0.astype(np.int64))
    out = []
    for i in range(n_machines):
        first = int(rng.integers(0, n_tags))
        tags = [f"tag-{(first + j) % n_tags:02d}" for j in range(TAGS_PER_MACHINE)]
        start = t0 + int(rng.integers(0, 2)) * 86400
        last = i == n_machines - 1
        if last:
            start += 3 * MINUTE
        res = "15T" if last else "10T"
        out.append(
            {
                "name": f"m-{i:02d}",
                "dataset": {
                    "tag_list": tags,
                    "train_start_date": _iso(start),
                    "train_end_date": _iso(start + days * 86400),
                    "resolution": res,
                    "data_provider": {"type": "ParquetDataProvider", "path": lake_path},
                },
                "model": {
                    "kind": "DiffBasedAnomalyDetector",
                    "base_estimator": {"kind": "LinearModel"},
                },
                # two folds: each fold costs ~10 Spark jobs per machine
                "evaluation": {"cv_mode": "full_build", "n_splits": 2},
            }
        )
    return out


# -------------------------------------------------------------- serving
ROUTES = ("anomaly", "prediction", "metadata")


@dataclass
class Request:
    due_s: float  # offset from the phase start
    route: str
    machine: str
    body: bytes | None


ROWS = 100  # rows per payload, the reference harness shape
ZIPF_S = 1.2
# the route order and machine picks of a phase come from this fixed seed,
# so every run has the same model-cache hits and misses; ``seed`` picks
# the payloads and the arrival gaps
PATTERN_SEED = 0


def payload(lake: Lake, tags: list[str], rng: np.random.Generator) -> dict:
    """``{"X": {tag: {iso_ts: value}}, "y": ...}`` -- ``ROWS`` consecutive
    10-minute buckets of the lake's values (nearest raw reading)."""
    t0 = int(T0.astype(np.int64))
    n_buckets = int((lake.ts_s.max() - t0) // 600)
    start = int(rng.integers(0, n_buckets - ROWS))
    stamps = t0 + (start + np.arange(ROWS)) * 600
    keys = [str(np.datetime64(int(s), "s")) + "+00:00" for s in stamps]
    cols = {}
    for t in tags:
        k = lake.tags.index(t)
        sel = lake.tag_idx == k
        ts, v = lake.ts_s[sel], lake.value[sel]
        pos = np.clip(np.searchsorted(ts, stamps), 0, ts.size - 1)
        cols[t] = {key: float(x) for key, x in zip(keys, v[pos])}
    return {"X": cols, "y": cols}


def schedule(
    seed: int,
    phase: int,
    rate: float,
    n: int,
    machines: list[dict],
    lake: Lake,
    mix: tuple[float, float, float],
) -> list[Request]:
    """Open-loop Poisson arrivals at ``rate`` req/s: exactly
    ``round(n * share)`` requests per route (shuffled), Zipf-skewed machine
    choice, one JSON payload per data-bearing request. The exponential
    gaps are rescaled so the phase spans exactly ``(n - 1) / rate``
    seconds: burstiness varies with the seed, the offered load does not."""
    pattern = np.random.default_rng([PATTERN_SEED, 3, phase])
    counts = [int(round(n * s)) for s in mix]
    counts[0] += n - sum(counts)
    routes = np.array(sum(([r] * c for r, c in zip(ROUTES, counts)), []))
    pattern.shuffle(routes)
    weights = 1.0 / np.arange(1, len(machines) + 1) ** ZIPF_S
    picks = pattern.choice(len(machines), n, p=weights / weights.sum())
    rng = np.random.default_rng([seed, 3, phase])
    gaps = rng.exponential(1.0, n)
    due = (np.cumsum(gaps) - gaps[0]) / gaps[1:].sum() * ((n - 1) / rate)
    return [
        request(lake, machines[int(p)], str(r), rng, float(d))
        for d, r, p in zip(due, routes, picks)
    ]


def request(lake: Lake, machine: dict, route: str, rng: np.random.Generator, due_s: float = 0.0) -> Request:
    """One request to ``machine``; data-bearing routes get a JSON payload."""
    import json

    body = None
    if route != "metadata":
        body = json.dumps(payload(lake, machine["dataset"]["tag_list"], rng)).encode()
    return Request(due_s, route, machine["name"], body)


# ------------------------------------------------------------ streaming
STREAM_TAGS = [f"tag-{k:02d}" for k in range(6)]
# the scoring query's window and watermark; stream.py passes them to
# ``score_stream`` and the expected windows below are derived from them
STREAM_RES_S = 600
STREAM_WATERMARK_S = 1800
MINUTES_PER_FILE = 60
LATE_SHARE = 0.01  # share of rows re-sent behind the watermark


@dataclass
class StreamInput:
    files: list[str]
    raw_rows: int
    late_rows: int
    # closed, aligned windows: epoch-second start -> per-tag on-time mean
    expected: dict[int, np.ndarray]


def write_stream_files(seed: int, root: str, n_files: int) -> StreamInput:
    """``n_files`` raw parquet files of 6 tags at 1-minute readings, in
    event-time order. About ``LATE_SHARE`` of rows are re-emitted in a
    LATER file with a timestamp older than the watermark at that point, so
    they must be dropped. Returns the windows that must be emitted -- every
    window closed by the final watermark (all tags present) -- with the
    per-tag mean of its on-time readings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    os.makedirs(root, exist_ok=True)
    n_min = n_files * MINUTES_PER_FILE
    vals = _series(rng, n_min, len(STREAM_TAGS))
    t0 = int(T0.astype(np.int64))
    files, raw, late = [], 0, 0
    for f in range(n_files):
        m = np.arange(f * MINUTES_PER_FILE, (f + 1) * MINUTES_PER_FILE)
        tag = np.repeat(np.array(STREAM_TAGS, dtype=object), m.size)
        ts = np.tile(t0 + m * MINUTE, len(STREAM_TAGS))
        v = vals[:, m].reshape(-1)
        if f >= 3:
            # late rows: re-sent three files behind. Spark drops late input
            # against the PREVIOUS batch's watermark, so the lag clears the
            # watermark by more than one file
            k = rng.binomial(ts.size, LATE_SHARE)
            lag = STREAM_WATERMARK_S + 3 * MINUTES_PER_FILE * MINUTE
            pick = rng.choice(ts.size, k, replace=False)
            tag = np.concatenate([tag, tag[pick]])
            ts = np.concatenate([ts, ts[pick] - lag])
            v = np.concatenate([v, np.full(k, 1.0e6)])
            late += k
        path = os.path.join(root, f"raw-{f:04d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "tag": pa.array(tag, pa.string()),
                    "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
                    "value": pa.array(v, pa.float64()),
                }
            ),
            path,
        )
        files.append(path)
        raw += ts.size
    # the file source replays files in modification-time order: make it
    # the event-time order, one second apart
    now = time.time()
    for f, path in enumerate(files):
        os.utime(path, (now - n_files + f, now - n_files + f))
    # append-mode emission: a window closes once the watermark (max event
    # time - watermark) passes its end
    max_ts = t0 + (n_min - 1) * MINUTE
    wm = max_ts - STREAM_WATERMARK_S
    per_win = STREAM_RES_S // MINUTE
    means = vals[:, : n_min - n_min % per_win].reshape(len(STREAM_TAGS), -1, per_win).mean(axis=2)
    expected = {
        t0 + i * STREAM_RES_S: means[:, i]
        for i in range(means.shape[1])
        if t0 + (i + 1) * STREAM_RES_S <= wm
    }
    return StreamInput(files, raw, late, expected)
