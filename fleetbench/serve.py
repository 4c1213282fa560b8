"""The serving phase of ``build_serve``: HTTP requests to
``make_wsgi_server(build_app(...))`` on localhost, serving the store the
fleet build just wrote. A latency phase sends its requests one at a time,
so each latency is the request path's own. Its figures use the requests
that ran while the host was quiet (``stats.quiet``), and it goes on past
``N_LATENCY`` requests, for up to ``LATENCY_BUDGET_S``, until
``N_LATENCY`` of them were quiet. A high-rate phase, run in the traced
pass only because its figures are per-layer, sends an
open-loop, seeded Poisson stream near the server's capacity, each request
timed from its due time; its goodput is the completions within the latency
limit per second."""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

import gen
from stats import QUIET_PCT, median, open_loop, quiet, serial_until
from tracing import JobCounter, Tracer

# anomaly / prediction / metadata shares of each phase
MIX = (0.5, 0.4, 0.1)
N_LATENCY = 24
LATENCY_BUDGET_S = 20.0
N_LATENCY_MAX = 80  # requests generated for the latency phase
# near the serial capacity of this mix (~1.7 req/s on 4 cores)
HIGH_RATE = 1.5  # req/s
N_HIGH = 6
LATENCY_LIMIT_S = 10.0  # a request this late counts as failed
ANOMALY_GROUPS = {
    "model_input", "model_output", "tag_anomaly_scaled", "total_anomaly_scaled",
    "anomaly_confidence", "total_anomaly_confidence",
}
PATHS = {"anomaly": "anomaly/prediction", "prediction": "prediction", "metadata": "metadata"}


def schedules(seed: int, configs: list[dict], lake: gen.Lake) -> list[tuple[str, list[gen.Request]]]:
    # the latency phase is a closed loop: its due times are not used
    return [
        ("latency", gen.schedule(seed, 0, HIGH_RATE, N_LATENCY_MAX, configs, lake, MIX)),
        ("high", gen.schedule(seed, 1, HIGH_RATE, N_HIGH, configs, lake, MIX)),
    ]


@dataclass
class Serve:
    spark: object
    server: object
    thread: threading.Thread
    port: int
    revisions: dict[str, str]
    workers: int

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)


def start(spark, root: str, revisions: dict[str, str], configs: list[dict], lake: gen.Lake, seed: int) -> Serve:
    """Serve ``root`` and send every (machine, route) once: Spark compiles
    each model's expressions on first use, which would otherwise land on
    whichever measured request comes first."""
    from gordo_spark.server import build_app, make_wsgi_server

    server = make_wsgi_server("127.0.0.1", 0, build_app(spark, root))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    s = Serve(spark, server, thread, server.server_address[1], revisions,
              workers=os.cpu_count() or 4)
    rng = np.random.default_rng([seed, 5])
    for c in configs:
        for route in gen.ROUTES:
            _send(s, gen.request(lake, c, route, rng), None)
    return s


def _send(s: Serve, r: gen.Request, rid: str | None) -> tuple[int, dict, str | None]:
    conn = http.client.HTTPConnection("127.0.0.1", s.port, timeout=60)
    headers = {"revision": s.revisions[r.machine], "Content-Type": "application/json"}
    if rid is not None:
        headers["X-Bench-Id"] = rid
    try:
        conn.request("POST" if r.body else "GET", f"/{r.machine}/{PATHS[r.route]}", body=r.body, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, json.loads(raw), resp.getheader("revision")
    except (OSError, http.client.HTTPException, ValueError) as exc:
        return 0, {"error": repr(exc)}, None
    finally:
        conn.close()


def _rows(data: dict) -> int:
    first = next(iter(data.values()))
    if first and all(isinstance(v, dict) for v in first.values()):
        first = next(iter(first.values()))
    return len(first)


def check(s: Serve, r: gen.Request, status: int, body: dict, rev: str | None) -> str | None:
    if status != 200:
        return f"{r.route} {r.machine}: HTTP {status} {body.get('error', '')}"
    if rev != s.revisions[r.machine]:
        return f"{r.route} {r.machine}: revision header {rev!r}"
    if r.route == "metadata":
        meta = body.get("metadata", {})
        return None if meta.get("name") == r.machine and "build-metadata" in meta else f"metadata {r.machine}: bad body"
    data = body.get("data") or {}
    groups = {"model_output"} if r.route == "prediction" else ANOMALY_GROUPS
    if not groups <= set(data):
        return f"{r.route} {r.machine}: missing column groups {sorted(groups - set(data))}"
    if _rows(data) != gen.ROWS:
        return f"{r.route} {r.machine}: {_rows(data)} rows"
    return None


def _instrument(t: Tracer, handled: dict, sc) -> None:
    from gordo_spark import serving
    from gordo_spark.ml import models
    from gordo_spark.server import GordoServer
    from gordo_spark.sources import store

    call = GordoServer.__call__

    def traced_call(self, environ, start_response):
        rid = environ.get("HTTP_X_BENCH_ID")
        if rid is not None:
            sc.setJobGroup(f"bench-{rid}", "fleetbench request")
        with t.span("server.handler") as sp:
            out = call(self, environ, start_response)
        if rid is not None:
            handled[rid] = sp.dur
        return out

    t.patch(GordoServer, "__call__", traced_call)
    t.wrap(store.ModelStore, "load", "serving.store_load", counter="serving.model_loads")
    t.wrap(serving, "dataframe_from_dict", "sources.serving_io.from_dict")
    t.wrap(serving, "dataframe_to_dict", "sources.serving_io.to_dict")
    t.wrap(models.DiffBasedAnomalyDetector, "anomaly", "ml.anomaly_plan")


def measure(s: Serve, phases: list, tracer: Tracer | None) -> dict:
    if tracer is None:
        phases = [p for p in phases if p[0] == "latency"]
    handled: dict[str, float] = {}
    sc = s.spark.sparkContext
    jobs = JobCounter(sc) if tracer else None
    results = {}
    with tracer.phase("serve.phases") if tracer else nullcontext():
        if tracer:
            _instrument(tracer, handled, sc)
        for name, reqs in phases:
            prefix = f"{name}-{time.perf_counter_ns()}"

            def send(i, reqs=reqs, prefix=prefix):
                return _send(s, reqs[i], f"{prefix}-{i}" if tracer else None)

            if name == "latency":
                sent = serial_until(send, _latency_done(time.perf_counter(), len(reqs)))
                reqs = reqs[: len(sent)]
            else:
                sent = open_loop([r.due_s for r in reqs], send, s.workers)
            results[name] = (prefix, reqs, sent)

    problems, good = [], 0
    for name, (_prefix, reqs, sent) in results.items():
        for r, x in zip(reqs, sent):
            err = check(s, r, *x.result)
            if err:
                problems.append(f"{name}: {err}")
            elif name == "high" and x.latency <= LATENCY_LIMIT_S:
                good += 1
    by_route = _by_route(results["latency"])
    out = {
        "attempted": sum(len(v[1]) for v in results.values()),
        "problems": problems,
        # the latency phase only, which both passes run
        "work_s": sum(x.done - x.sent for x in results["latency"][2]),
        # the mix-weighted median: each route's median quiet latency,
        # weighted by the route's share of requests
        "latency_ms": 1000.0 * sum(share * median(by_route[r]) for r, share in zip(gen.ROUTES, MIX)),
        "samples": {f"latency phase, {r}, quiet": xs for r, xs in by_route.items()},
    }
    if tracer:
        high = results["high"][2]
        out["samples"]["high-rate phase, from due time"] = [x.latency for x in high]
        out["layer"] = _layer(tracer, jobs.stop(), results, handled, sc, by_route)
        out["layer"]["server.goodput_rps"] = good / (max(x.done for x in high) - min(x.due for x in high))
    return out


def _latency_done(start: float, n_max: int):
    def done(sent: list) -> bool:
        if len(sent) < N_LATENCY:
            return False
        n_quiet = sum(x.steal <= QUIET_PCT for x in sent)
        return n_quiet >= N_LATENCY or len(sent) == n_max or time.perf_counter() - start > LATENCY_BUDGET_S

    return done


def _by_route(phase: tuple) -> dict[str, list[float]]:
    """Each route's latencies, of the requests sent while the host was quiet."""
    _prefix, reqs, sent = phase
    out: dict[str, list[float]] = {}
    for route in gen.ROUTES:
        xs = [x for r, x in zip(reqs, sent) if r.route == route]
        out[route] = quiet([x.latency for x in xs], [x.steal for x in xs])
    return out


def _layer(t: Tracer, jobs: dict, results: dict, handled: dict, sc, lat: dict) -> dict:
    tracker = sc.statusTracker()
    handler: dict[str, list[float]] = {r: [] for r in PATHS}
    req_jobs: dict[str, list[int]] = {r: [] for r in PATHS}
    queue = []
    for name, (prefix, reqs, sent) in results.items():
        for i, (r, x) in enumerate(zip(reqs, sent)):
            rid = f"{prefix}-{i}"
            h = handled.get(rid)
            if h is not None and name == "latency":
                handler[r.route].append(h)
            elif h is not None:
                queue.append(x.latency - h)
            req_jobs[r.route].append(len(tracker.getJobIdsForGroup(f"bench-{rid}")))
    n_model = sum(len(req_jobs[r]) for r in ("anomaly", "prediction"))

    def p50_ms(xs: list[float]) -> float:
        return 1000.0 * median(xs) if xs else 0.0

    out = {
        "spark.failed_jobs.serving": jobs["failed_jobs"],
        "serving.model_load_calls": t.counts["serving.model_loads"],
        "serving.model_cache_miss_ratio": t.counts["serving.model_loads"] / n_model,
        "serving.store_load_s": sum(t.durations("serving.store_load")) / n_model,
        "sources.serving_io.from_dict_ms": p50_ms(t.durations("sources.serving_io.from_dict")),
        "sources.serving_io.to_dict_ms": p50_ms(t.durations("sources.serving_io.to_dict")),
        "ml.anomaly_plan_ms": p50_ms(t.durations("ml.anomaly_plan")),
        "server.queue_wait_ms": p50_ms(queue),
        "client.gen_lag_ms": 1000.0 * max(x.gen_lag for x in results["high"][2]),
        "client.anomaly_p50_ms": p50_ms(lat["anomaly"]),
        "client.prediction_p50_ms": p50_ms(lat["prediction"]),
    }
    for route in PATHS:
        out[f"server.handler_p50_ms.{route}"] = p50_ms(handler[route])
        out[f"spark.jobs_per_request.{route}"] = (
            sum(req_jobs[route]) / len(req_jobs[route]) if req_jobs[route] else 0.0
        )
    return out
