"""Fleet benchmark for gordo_spark: build, serve and stream workloads.

    python3 fleetbench/run.py --workload build_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.fleetbench/`` in the working directory and removed afterwards. The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run also writes its spans to
``.fleetbench/trace-<workload>-<seed>.json``. The exit code is 1 when an
output check fails and 2 when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fleet  # noqa: E402
import stream  # noqa: E402
from stats import cpu_jiffies, median, peak_rss_mb, percentile, steal_pct, supported_percentile  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = {"build_serve": fleet, "stream_score": stream}

END_TO_END = {
    "setup_s": "s",
    "throughput": "1/s",
    "latency_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.generate_s": "s",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
    "session.peak_rss_mb": "MB",
    "host.steal_pct": "%",
    "spark.jobs_per_machine": "count",
    "spark.stages_per_machine": "count",
    "spark.tasks_per_machine": "count",
    "spark.failed_jobs": "count",
    "plans.scans_per_fleet": "count",
    "plans.machines_per_scan": "ratio",
    "plans.plan_build_s": "s",
    "ml.fit_calls": "count",
    "ml.fit_s": "s",
    "ml.cross_validate_s": "s",
    "builder.score_model_calls": "count",
    "builder.score_model_s": "s",
    "builder.build_p50_s": "s",
    "builder.build_max_s": "s",
    "builder.cache_hit_ratio": "ratio",
    "builder.rebuild_cached_s": "s",
    "sources.store_dump_s": "s",
    "sources.store_load_s": "s",
    "server.goodput_rps": "1/s",
    "server.handler_p50_ms.anomaly": "ms",
    "server.handler_p50_ms.prediction": "ms",
    "server.handler_p50_ms.metadata": "ms",
    "server.queue_wait_ms": "ms",
    "client.gen_lag_ms": "ms",
    "client.anomaly_p50_ms": "ms",
    "client.prediction_p50_ms": "ms",
    "serving.model_load_calls": "count",
    "serving.store_load_s": "s",
    "spark.failed_jobs.serving": "count",
    "serving.model_cache_miss_ratio": "ratio",
    "sources.serving_io.from_dict_ms": "ms",
    "sources.serving_io.to_dict_ms": "ms",
    "ml.anomaly_plan_ms": "ms",
    "spark.jobs_per_request.anomaly": "count",
    "spark.jobs_per_request.prediction": "count",
    "spark.jobs_per_request.metadata": "count",
    "streaming.scoring.batch_p50_ms": "ms",
    "streaming.stateful.batch_p50_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.late_rows_dropped": "count",
    "streaming.batches": "count",
    "streaming.stateful_s": "s",
}


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def _start_spark(work: str):
    """The program's own session factory; scratch space stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from gordo_spark import get_spark

    return get_spark(
        "fleetbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: int, traced: bool, base: str) -> dict:
    mod = WORKLOADS[workload]
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        timings: dict = {}
        t = time.perf_counter()
        spark = _start_spark(work)
        timings["start_s"] = time.perf_counter() - t
        ctx = mod.setup(spark, seed, seconds, work, timings)
        setup_s = time.perf_counter() - t

        jiffies = cpu_jiffies()
        res = mod.measure(ctx, seconds, None)
        steal = steal_pct(jiffies, cpu_jiffies())
        _report_samples(res["samples"])
        print(f"host CPU stolen while measuring: {steal:.1f}%", file=sys.stderr)
        problems = list(res["problems"])
        failed, attempted = res.get("failed", len(problems)), res["attempted"]
        if not traced:
            values = {
                "setup_s": setup_s,
                "throughput": res["throughput"],
                "latency_ms": res["latency_ms"],
            }
            return _result(problems, attempted, failed, _metrics(values, END_TO_END))

        tracer = Tracer()
        tr = mod.measure(ctx, seconds, tracer)
        problems += tr["problems"]
        failed += tr.get("failed", len(tr["problems"]))
        attempted += tr["attempted"]
        layer = dict(tr["layer"])
        layer.update({
            "session.start_s": timings["start_s"],
            "session.warmup_s": timings["warmup_s"],
            "sources.generate_s": timings["generate_s"],
            "trace.overhead_pct": 100.0 * (tr["work_s"] - res["work_s"]) / res["work_s"],
            "trace.spans": len(tracer.spans),
            "session.peak_rss_mb": peak_rss_mb() + peak_rss_mb(descendants=True),
            "host.steal_pct": steal,
        })
        path = os.path.join(base, f"trace-{workload}-{seed}.json")
        tracer.write(path, {"workload": workload, "seed": seed, "untraced_work_s": res["work_s"],
                            "traced_work_s": tr["work_s"], "layer": layer})
        print(f"spans written to {path}", file=sys.stderr)
        return _result(problems, attempted, failed, _metrics(layer, PER_LAYER))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _report_samples(samples: dict[str, list[float]]) -> None:
    """Minimum, median and the highest percentile with ten samples beyond it."""
    for name, xs in samples.items():
        p = supported_percentile(len(xs))
        tail = f", p{p:g} {1000 * percentile(xs, p):.1f} ms" if p and p > 50 else ""
        print(f"{name}: n={len(xs)}, min {1000 * min(xs):.1f} ms, p50 {1000 * median(xs):.1f} ms{tail}", file=sys.stderr)


def _result(problems: list[str], attempted: int, failed: int, metrics: dict) -> dict:
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    return {
        "correct": not problems,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gordo_spark", "__init__.py")):
        print("gordo_spark not found: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".fleetbench")
    os.makedirs(base, exist_ok=True)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), base)
    except Exception:
        traceback.print_exc()
        return 3
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
