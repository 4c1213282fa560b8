"""stream_score: drain a backlog of raw sensor files with
``trigger(availableNow=True)``, one file per micro-batch, through
``score_stream`` -> parquet sink -> ``ewma_stream_multi`` -> sink, with
fresh checkpoints per drain. Set-up drains the first ``WARMUP_FILES``
files once to warm the JVM; the measured drain is the whole backlog, and
its figures use the batches that ran while the host was quiet, from a
second drain too when the first had too few."""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import datetime

import numpy as np

import gen
from stats import QUIET_PCT, StealSampler, median, quiet
from tracing import Tracer

FILES_PER_SECOND = 1.6  # backlog files per measured second
WARMUP_FILES = 6
MIN_QUIET_BATCHES = 10
MAX_DRAINS = 2
EWMA_BATCHES = 2
RES = f"{gen.STREAM_RES_S // 60}T"
WATERMARK = f"{gen.STREAM_WATERMARK_S // 60}T"
SPAN = 12
TAGS = gen.STREAM_TAGS
# a fixed linear model: every tag predicted from the first one
PARAMS = {
    "coef": {t: {TAGS[0]: 0.5} for t in TAGS},
    "intercepts": {t: 5.0 for t in TAGS},
    "scaler_stats": {t: (0.0, 20.0) for t in TAGS},
    "thresholds": {t: 0.5 for t in TAGS},
    "total_threshold": 0.4,
}
SCORE_COLS = ["total_anomaly_scaled"] + [f"tag_anomaly_scaled__{t}" for t in TAGS]


@dataclass
class Stream:
    spark: object
    work: str
    source: str
    data: gen.StreamInput
    schema: object
    drains: int = 0


def _score(spark, source: str, schema, out: str, span) -> tuple:
    """Drain ``source`` through the scoring query into ``out``/scored."""
    from pyspark.sql import functions as F

    from gordo_spark.streaming import score_stream

    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(source)
    with span("streaming.scoring.plan"):
        scored = score_stream(raw, TAGS, PARAMS, resolution=RES, watermark=WATERMARK)
    scored = scored.select(
        F.lit("stream-0").alias("machine"), F.col("start").alias("ts"),
        *SCORE_COLS, *[f"`model_input__{t}`" for t in TAGS],
    )
    t0 = time.perf_counter()
    with span("streaming.scoring.run"):
        q = (
            scored.writeStream.format("parquet")
            .option("path", f"{out}/scored")
            .option("checkpointLocation", f"{out}/ck-scored")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q.recentProgress, time.perf_counter() - t0


def _drain(spark, source: str, schema, out: str, tracer: Tracer | None) -> dict:
    """Run both queries to completion; returns their progress reports."""
    from gordo_spark.streaming.stateful import ewma_stream_multi

    span = tracer.span if tracer else (lambda name: nullcontext())
    scoring, scoring_s = _score(spark, source, schema, out, span)

    sink_files = [f for f in os.listdir(f"{out}/scored") if f.endswith(".parquet")]
    per_batch = max(1, math.ceil(len(sink_files) / EWMA_BATCHES))
    sink = spark.read.parquet(f"{out}/scored")
    with span("streaming.stateful.plan"):
        smoothed = ewma_stream_multi(
            spark.readStream.schema(sink.schema).option("maxFilesPerTrigger", per_batch).parquet(f"{out}/scored"),
            SCORE_COLS, span=SPAN,
        )
    t2 = time.perf_counter()
    with span("streaming.stateful.run"):
        q2 = (
            smoothed.writeStream.format("parquet")
            .option("path", f"{out}/smoothed")
            .option("checkpointLocation", f"{out}/ck-smoothed")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
    t3 = time.perf_counter()
    return {
        "scoring": scoring, "stateful": q2.recentProgress,
        "scoring_s": scoring_s, "stateful_s": t3 - t2,
    }


def setup(spark, seed: int, seconds: int, work: str, timings: dict) -> Stream:
    t = time.perf_counter()
    n_files = max(WARMUP_FILES, round(FILES_PER_SECOND * seconds))
    source = os.path.join(work, "raw")
    data = gen.write_stream_files(seed, source, n_files)
    warm_source = os.path.join(work, "warm-raw")
    os.makedirs(warm_source)
    for path in data.files[:WARMUP_FILES]:
        shutil.copy2(path, warm_source)  # keeps the replay order (mtime)
    timings["generate_s"] = time.perf_counter() - t

    # the first drain in a JVM runs while the JIT is still compiling
    t = time.perf_counter()
    schema = spark.read.parquet(data.files[0]).schema
    _drain(spark, warm_source, schema, os.path.join(work, "warmup"), None)
    timings["warmup_s"] = time.perf_counter() - t
    return Stream(spark, work, source, data, schema)


def _read_sink(path: str):
    """A parquet sink's data files as one pandas frame, read without Spark."""
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.ParquetDataset([os.path.join(path, f) for f in files]).read().to_pandas()


def _check(s: Stream, out: str) -> tuple[int, list[str]]:
    import pandas as pd

    scored = _read_sink(f"{out}/scored")
    smoothed = _read_sink(f"{out}/smoothed")
    exp = s.data.expected
    starts = (pd.to_datetime(scored["ts"]).astype("int64") // 10**9).to_numpy()
    problems = []
    if len(starts) != len(set(starts)):
        problems.append(f"{len(starts) - len(set(starts))} duplicate windows")
    missing = set(exp) - set(starts)
    extra = set(starts) - set(exp)
    if missing:
        problems.append(f"{len(missing)} closed windows not emitted")
    if extra:
        problems.append(f"{len(extra)} windows emitted that are not closed")
    got = scored[[f"model_input__{t}" for t in TAGS]].to_numpy()
    bad = [
        w for row, w in zip(got, starts)
        if w in exp and not np.allclose(row, exp[w], rtol=1e-9, atol=1e-9)
    ]
    if bad:
        problems.append(
            f"{len(bad)} windows differ from their on-time readings, first at epoch {min(bad)}"
        )
    if len(smoothed) != len(scored) or set(smoothed["ts"]) != set(scored["ts"]):
        problems.append(f"EWMA rows {len(smoothed)} != scored rows {len(scored)}")
    failed = len(missing) + len(extra) + len(bad) + (len(starts) - len(set(starts)))
    failed += abs(len(smoothed) - len(scored))
    return failed, problems


def _steal(host: StealSampler, p: dict) -> float:
    """Host steal while the batch of progress report ``p`` ran."""
    start = datetime.fromisoformat(p["timestamp"]).timestamp() - (time.time() - time.perf_counter())
    return host.pct(start, start + p["durationMs"]["triggerExecution"] / 1000.0)


def measure(s: Stream, seconds: int, tracer: Tracer | None) -> dict:
    """Drain the backlog, and drain it again (up to ``MAX_DRAINS``) while
    fewer than ``MIN_QUIET_BATCHES`` of its batches ran on a quiet host."""
    drains, failed, problems, steady, steal = [], 0, [], [], []
    host = StealSampler()
    try:
        with tracer.phase("stream.drain") if tracer else nullcontext():
            while len(drains) < MAX_DRAINS and sum(x <= QUIET_PCT for x in steal) < MIN_QUIET_BATCHES:
                out = os.path.join(s.work, f"drain-{s.drains}")
                s.drains += 1
                prog = _drain(s.spark, s.source, s.schema, out, tracer)
                drains.append(prog)
                n_failed, errors = _check(s, out)
                failed, problems = failed + n_failed, problems + errors
                # the first batch of a query plans and compiles it; the
                # rest are the steady state the metrics describe
                batches = [p for p in prog["scoring"] if p["numInputRows"] > 0][1:]
                steady += batches
                steal += [_steal(host, p) for p in batches]
    finally:
        host.stop()
    kept = quiet(steady, steal)
    ms = [p["durationMs"]["triggerExecution"] for p in kept]
    first = drains[0]
    res = {
        "attempted": len(s.data.expected) * len(drains),
        "failed": failed,
        "problems": problems,
        # the first drain only, which both passes of a traced run make
        "work_s": first["scoring_s"] + first["stateful_s"],
        "throughput": sum(p["numInputRows"] for p in kept) / (sum(ms) / 1000.0),
        "latency_ms": median(ms),
        "samples": {f"scoring micro-batch of {len(drains)} drain(s), quiet": [m / 1000.0 for m in ms]},
    }
    if tracer:
        # counts of one drain, so they repeat exactly from run to run
        res["layer"] = _layer(first, [p for p in first["scoring"] if p["numInputRows"] > 0][1:])
    return res


def _layer(prog: dict, batches: list[dict]) -> dict:
    stateful = [p for p in prog["stateful"] if p["numInputRows"] > 0]

    def dur(ps, key):
        return median([p["durationMs"].get(key, 0) for p in ps]) if ps else 0.0

    state = [op for p in prog["scoring"] for op in p.get("stateOperators", [])]
    return {
        "streaming.scoring.batch_p50_ms": dur(batches, "triggerExecution"),
        "streaming.stateful.batch_p50_ms": dur(stateful, "triggerExecution"),
        "streaming.planning_ms": dur(batches, "queryPlanning"),
        "streaming.add_batch_ms": dur(batches, "addBatch"),
        "streaming.wal_commit_ms": dur(batches, "walCommit"),
        "streaming.state_rows": max((op["numRowsTotal"] for op in state), default=0),
        "streaming.late_rows_dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in state),
        "streaming.batches": len(prog["scoring"]) + len(prog["stateful"]),
        "streaming.stateful_s": prog["stateful_s"],
    }
