"""build_serve: a cold ``build_machines`` of a generated fleet with a fresh
``ModelStore`` and ``DiskRegistry``, then a rebuild that must hit the build
cache, then HTTP requests served from the store the build wrote (see
``serve``). The fleet is two 10T machines sharing one scan
(``plans.multi``) and a 15T machine starting off the grid, which takes the
solo path. Set-up builds one machine solo with ``ModelBuilder``; that
build is both the JVM warm-up and the reference its shared-scan twin must
match."""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass

import gen
import serve
from stats import median
from tracing import JobCounter, Tracer

N_MACHINES = 3
REFERENCE = 0  # a machine of the shared-scan group
REBUILDS = 1  # cached rebuilds per round


@dataclass
class Fleet:
    spark: object
    work: str
    seed: int
    lake: gen.Lake
    configs: list[dict]
    machines: list
    expected_rows: dict[str, int]
    reference: dict
    phases: list
    workers: int
    rounds: int = 0


def setup(spark, seed: int, seconds: int, work: str, timings: dict) -> Fleet:
    from gordo_spark.builder import ModelBuilder
    from gordo_spark.config import Machine

    t = time.perf_counter()
    lake = gen.make_lake(seed, days=5)
    lake_path = gen.write_lake(lake, os.path.join(work, "lake"))
    configs = gen.make_fleet(seed, lake_path, N_MACHINES, days=4)
    expected = {}
    for c in configs:
        d = c["dataset"]
        res_s = 900 if d["resolution"] == "15T" else 600
        expected[c["name"]] = gen.predicted_rows(
            lake, d["tag_list"], d["train_start_date"], d["train_end_date"], res_s
        )
    phases = serve.schedules(seed, configs, lake)
    timings["generate_s"] = time.perf_counter() - t

    machines = [Machine.from_config(c) for c in configs]
    t = time.perf_counter()
    ref = ModelBuilder(machines[REFERENCE]).build(spark)
    timings["warmup_s"] = time.perf_counter() - t
    return Fleet(
        spark, work, seed, lake, configs, machines, expected,
        ref.metadata["build-metadata"]["model"]["thresholds"], phases,
        workers=os.cpu_count() or 4,
    )


def _thresholds_close(a: dict, b: dict) -> bool:
    vals_a = list(a["tags"].values()) + [a["total"]]
    vals_b = list(b["tags"].values()) + [b["total"]]
    return a["tags"].keys() == b["tags"].keys() and all(
        math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12) for x, y in zip(vals_a, vals_b)
    )


def _check_cold(f: Fleet, results: dict) -> list[str]:
    problems = []
    for m in f.machines:
        r = results.get(m.name)
        if r is None or r.cached or not r.path:
            problems.append(f"{m.name}: cold build missing or cached")
            continue
        meta = r.metadata["build-metadata"]
        th = meta["model"]["thresholds"]
        if not all(math.isfinite(v) for v in list(th["tags"].values()) + [th["total"]]):
            problems.append(f"{m.name}: non-finite thresholds")
        elif meta["dataset"]["row_count"] != f.expected_rows[m.name]:
            problems.append(
                f"{m.name}: row_count {meta['dataset']['row_count']} != {f.expected_rows[m.name]}"
            )
        elif m is f.machines[REFERENCE] and not _thresholds_close(th, f.reference):
            problems.append(f"{m.name}: thresholds differ from the solo build")
    return problems


def _instrument(t: Tracer) -> None:
    from gordo_spark import builder
    from gordo_spark.ml import models
    from gordo_spark.plans import dataset, multi
    from gordo_spark.sources import store

    t.wrap(builder.ModelBuilder, "build", "builder.build")
    t.wrap(builder, "score_model", "builder.score_model", counter="builder.score_model_calls")
    t.wrap(multi, "shared_wide_frames", "plans.shared_wide_frames")
    t.wrap(dataset.TimeSeriesDataset, "long_resampled", "plans.long_resampled", counter="plans.scans")
    t.wrap(models.LinearModel, "fit", "ml.fit", counter="ml.fit_calls")
    t.wrap(models.DiffBasedAnomalyDetector, "cross_validate", "ml.cross_validate")
    t.wrap(store.ModelStore, "dump", "sources.store_dump")
    t.wrap(store.ModelStore, "load", "sources.store_load")


def _round(f: Fleet, tag: str, tracer: Tracer | None) -> dict:
    from gordo_spark.builder import build_machines
    from gordo_spark.sources.store import DiskRegistry, ModelStore

    root = os.path.join(f.work, f"fleet-{tag}")
    store = ModelStore(os.path.join(root, "models"))
    registry = DiskRegistry(os.path.join(root, "registry"))
    t0 = time.perf_counter()
    cold = build_machines(f.spark, f.machines, store, registry, max_workers=f.workers)
    t1 = time.perf_counter()
    cold_scans = tracer.counts["plans.scans"] if tracer else 0
    problems = _check_cold(f, cold)
    rebuilds, hits = [], 0
    for _ in range(REBUILDS):
        t = time.perf_counter()
        warm = build_machines(f.spark, f.machines, store, registry, max_workers=f.workers)
        rebuilds.append((t, time.perf_counter()))
        hits += sum(r.cached for r in warm.values())
        problems += [f"{n}: rebuild not cached" for n, r in warm.items() if not r.cached]
    return {
        "cold": (t0, t1), "rebuilds": rebuilds, "problems": problems,
        "hits": hits, "cold_scans": cold_scans, "root": store.root,
        "revisions": {n: r.path.split(os.sep)[-2] for n, r in cold.items() if r.path},
    }


def measure(f: Fleet, seconds: int, tracer: Tracer | None) -> dict:
    """Fleet rounds until ``seconds`` have passed (at least one), then the
    serving phases against the last round's store."""
    rounds = []
    jobs = JobCounter(f.spark.sparkContext) if tracer else None
    start = time.perf_counter()
    while not rounds or time.perf_counter() - start < seconds:
        tag = f"{'t' if tracer else 'u'}{f.rounds}"
        f.rounds += 1
        if tracer:
            tracer.counts["plans.scans"] = 0
            _instrument(tracer)
            with tracer.phase("fleet.round"):
                rounds.append(_round(f, tag, tracer))
        else:
            rounds.append(_round(f, tag, None))
    cold = [r["cold"][1] - r["cold"][0] for r in rounds]
    warm = [b - a for r in rounds for a, b in r["rebuilds"]]
    n = len(f.machines) * len(rounds)
    layer = _layer(tracer, jobs.stop(), rounds, n) if tracer else {}

    last = rounds[-1]
    s = serve.start(f.spark, last["root"], last["revisions"], f.configs, f.lake, f.seed)
    try:
        served = serve.measure(s, f.phases, tracer)
    finally:
        s.close()
    layer.update(served.get("layer", {}))
    return {
        "attempted": (1 + REBUILDS) * n + served["attempted"],
        "problems": [p for r in rounds for p in r["problems"]] + served["problems"],
        "work_s": sum(cold) + sum(warm) + served["work_s"],
        "throughput": n / sum(cold),
        "latency_ms": served["latency_ms"],
        "samples": {"cold fleet build": cold, "cached rebuild": warm, **served["samples"]},
        "layer": layer,
    }


def _layer(t: Tracer, jobs: dict, rounds: list[dict], n: int) -> dict:
    def within(name: str, key: str) -> list[float]:
        windows = [w for r in rounds for w in ([r["cold"]] if key == "cold" else r["rebuilds"])]
        return [
            s.dur for s in t.spans
            if s.name == name and any(a <= s.start <= b for a, b in windows)
        ]

    builds = within("builder.build", "cold")
    scans = sum(r["cold_scans"] for r in rounds)
    return {
        "spark.jobs_per_machine": jobs["jobs"] / n,
        "spark.stages_per_machine": jobs["stages"] / n,
        "spark.tasks_per_machine": jobs["tasks"] / n,
        "spark.failed_jobs": jobs["failed_jobs"],
        "plans.scans_per_fleet": scans / len(rounds),
        "plans.machines_per_scan": n / scans if scans else 0.0,
        "plans.plan_build_s": median(within("plans.shared_wide_frames", "rebuilds")),
        "ml.fit_calls": t.counts["ml.fit_calls"] / n,
        "ml.fit_s": sum(t.durations("ml.fit")) / n,
        "ml.cross_validate_s": sum(t.durations("ml.cross_validate")) / n,
        "builder.score_model_calls": t.counts["builder.score_model_calls"] / n,
        "builder.score_model_s": sum(t.durations("builder.score_model")) / n,
        "builder.build_p50_s": median(builds),
        "builder.build_max_s": max(builds),
        "builder.cache_hit_ratio": sum(r["hits"] for r in rounds) / (REBUILDS * n),
        "builder.rebuild_cached_s": median([b - a for r in rounds for a, b in r["rebuilds"]]),
        "sources.store_dump_s": sum(t.durations("sources.store_dump")) / n,
        "sources.store_load_s": sum(t.durations("sources.store_load")) / (REBUILDS * n),
    }
