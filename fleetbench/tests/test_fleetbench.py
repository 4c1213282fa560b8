"""The benchmark's own tests; no Spark needed.

    python -m pytest fleetbench/tests -q
"""

import filecmp
import json
import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import fleet  # noqa: E402
import gen  # noqa: E402
import serve  # noqa: E402
from stats import QUIET_PCT, StealSampler, open_loop, percentile, quiet, serial_until, supported_percentile  # noqa: E402
from tracing import Span, Tracer  # noqa: E402


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_supported_percentile_keeps_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected


def test_percentile_matches_numpy_linear():
    xs = list(np.random.default_rng(0).exponential(1.0, 37))
    for p in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p), rel=1e-12)


def _tree_equal(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    for run in ("a", "b"):
        lake = gen.make_lake(7, n_tags=8, days=2)
        gen.write_lake(lake, str(tmp_path / run / "lake"))
        gen.write_stream_files(7, str(tmp_path / run / "stream"), 5)
        fleet = gen.make_fleet(7, "lake", 4, n_tags=8, days=1)
        reqs = gen.schedule(7, 0, 1.5, 12, fleet, lake, (0.2, 0.6, 0.2))
        (tmp_path / run / "fleet.json").write_text(json.dumps(fleet))
        (tmp_path / run / "requests.json").write_text(
            json.dumps([[r.due_s, r.route, r.machine, (r.body or b"").decode()] for r in reqs])
        )
    for sub in ("lake", "stream"):
        assert _tree_equal(tmp_path / "a" / sub, tmp_path / "b" / sub)
    for f in ("fleet.json", "requests.json"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()

    other = gen.make_lake(8, n_tags=8, days=2)
    gen.write_lake(other, str(tmp_path / "c" / "lake"))
    assert not _tree_equal(tmp_path / "a" / "lake", tmp_path / "c" / "lake")


def test_schedule_keeps_exact_mix_and_span():
    lake = gen.make_lake(1, n_tags=8, days=2)
    fleet = gen.make_fleet(1, "lake", 3, n_tags=8, days=1)
    reqs = gen.schedule(1, 0, 2.0, 21, fleet, lake, (0.2, 0.6, 0.2))
    routes = [r.route for r in reqs]
    assert (routes.count("anomaly"), routes.count("prediction"), routes.count("metadata")) == (4, 13, 4)
    assert reqs[0].due_s == 0.0
    assert reqs[-1].due_s == pytest.approx(20 / 2.0)
    assert all(a.due_s <= b.due_s for a, b in zip(reqs, reqs[1:]))


def test_schedule_keeps_the_access_pattern_across_seeds():
    lake = gen.make_lake(1, n_tags=8, days=2)
    machines = gen.make_fleet(1, "lake", 3, n_tags=8, days=1)
    a = gen.schedule(1, 0, 2.0, 20, machines, lake, serve.MIX)
    b = gen.schedule(2, 0, 2.0, 20, machines, lake, serve.MIX)
    # same routes and machines, so the same model-cache misses; the seed
    # changes the payloads and the arrival gaps
    assert [(r.route, r.machine) for r in a] == [(r.route, r.machine) for r in b]
    assert len({r.machine for r in a}) > 1
    assert [r.body for r in a] != [r.body for r in b]
    assert [r.due_s for r in a] != [r.due_s for r in b]


def test_predicted_rows_counts_the_aligned_grid():
    lake = gen.make_lake(3, n_tags=4, days=2)
    start, end = "2024-01-01T00:00:00+00:00", "2024-01-02T00:00:00+00:00"
    assert gen.predicted_rows(lake, lake.tags, start, end, 600) == 144
    assert gen.predicted_rows(lake, lake.tags, start, end, 900) == 96


def test_stream_expected_windows_exclude_late_rows(tmp_path):
    data = gen.write_stream_files(5, str(tmp_path), 6)
    assert data.late_rows > 0
    # 6 one-hour files, 30-minute watermark: windows ending by 05:29 close
    assert len(data.expected) == 32
    assert all(abs(v).max() < 1e5 for v in data.expected.values())


def test_open_loop_counts_latency_from_the_due_time():
    service = 0.05

    def send(i):
        time.sleep(service)
        return i

    sent = open_loop([0.0, 0.01, 0.02], send, workers=1)
    assert [s.result for s in sent] == [0, 1, 2]
    # one worker: the third request waits for the two before it, and that
    # wait counts against it although its own service took 50 ms
    assert sent[2].done - sent[2].sent == pytest.approx(service, abs=0.03)
    assert sent[2].latency >= 3 * service - 0.02 - 0.005
    assert sent[0].gen_lag < 0.02


def test_serial_until_sends_in_order_until_stopped():
    seen = []
    out = serial_until(lambda i: seen.append(i) or i, lambda sent: len(sent) == 5)
    assert seen == [0, 1, 2, 3, 4]
    assert [s.result for s in out] == seen
    assert all(a.done <= b.sent for a, b in zip(out, out[1:]))
    assert all(0.0 <= s.steal <= 100.0 for s in out)


def test_quiet_keeps_quiet_samples_or_the_least_stolen_half():
    hi = QUIET_PCT + 5
    # most samples quiet: every quiet one, none of the others
    assert quiet([1, 2, 3, 4], [0.0, hi, 0.0, QUIET_PCT]) == [1, 3, 4]
    # too few quiet: the half with the least steal
    assert sorted(quiet([1, 2, 3, 4, 5], [hi, hi + 3, 0.0, hi + 1, hi + 2])) == [1, 3, 4]


def test_steal_sampler_brackets_an_interval():
    host = StealSampler()
    t0 = time.perf_counter()
    time.sleep(3 * StealSampler.SAMPLE_S)
    t1 = time.perf_counter()
    host.stop()
    assert len(host.times) >= 3
    assert 0.0 <= host.pct(t0, t1) <= 100.0
    # an interval past the last sample clips to it instead of failing
    assert host.pct(t1 + 10, t1 + 20) == 0.0


def test_self_time_subtracts_children_once():
    t = Tracer()
    t.spans = [
        Span(1, None, 1, "root", 0.0, 10.0),
        Span(2, 1, 1, "child", 2.0, 5.0),
        Span(3, 1, 3, "child", 4.0, 6.0),  # overlaps the first child
    ]
    st = t.self_times()
    assert st["root"]["self_s"] == pytest.approx(6.0)
    assert st["child"]["calls"] == 2
    assert st["child"]["self_s"] == pytest.approx(5.0)


def test_wrap_records_spans_and_restores():
    class Thing:
        def work(self, x):
            return x + 1

    original = Thing.__dict__["work"]
    t = Tracer()
    with t.phase("phase"):
        t.wrap(Thing, "work", "thing.work", counter="thing.calls")
        assert Thing.__dict__["work"] is not original
        assert Thing().work(1) == 2
    assert Thing.__dict__["work"] is original
    assert t.counts["thing.calls"] == 1
    (span,) = [s for s in t.spans if s.name == "thing.work"]
    (root,) = [s for s in t.spans if s.name == "phase"]
    assert span.parent == root.id


def test_serving_store_loads_are_kept_apart_from_build_loads(tmp_path):
    from gordo_spark.sources.store import ModelStore

    store = ModelStore(str(tmp_path))
    store.dump({"w": 1.0}, "m-00", {"name": "m-00"})
    t = Tracer()
    with t.phase("fleet.round"):
        fleet._instrument(t)
        store.load("m-00")
    with t.phase("serve.phases"):
        serve._instrument(t, {}, None)
        store.load("m-00")
        store.load("m-00")
    assert len(t.durations("sources.store_load")) == 1
    assert len(t.durations("serving.store_load")) == 2
    assert t.counts["serving.model_loads"] == 2


def test_benchmark_json_matches_the_metric_catalog():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
