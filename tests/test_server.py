"""WSGI server parity tests — routes, revision resolution/stamping,
JSON + parquet negotiation both directions, smooth-drop, error codes
(mirrors /root/reference/tests/gordo/server/test_anomaly_blueprint.py:8-68
and test_gordo_server.py behaviors)."""

import io
import json

import numpy as np
import pandas as pd
import pytest

from gordo_spark.builder import ModelBuilder
from gordo_spark.config import Machine
from gordo_spark.server import build_app
from gordo_spark.sources.store import ModelStore
from tests.test_builder import _AUTOENCODER, _lagged, _xy_machine, xy_wide  # noqa: F401

TAGS = ["click", "view", "purchase"]


def call(app, path, method="GET", body=None, content_type="application/json", headers=None):
    """Minimal WSGI test client."""
    raw = b""
    if body is not None:
        raw = body if isinstance(body, bytes) else json.dumps(body).encode()
    q = ""
    if "?" in path:
        path, q = path.split("?", 1)
    import sys

    environ = {
        "PATH_INFO": path,
        "SCRIPT_NAME": "",
        "REQUEST_METHOD": method,
        "QUERY_STRING": q,
        "CONTENT_TYPE": content_type,
        "CONTENT_LENGTH": str(len(raw)),
        "SERVER_NAME": "localhost",
        "SERVER_PORT": "80",
        "SERVER_PROTOCOL": "HTTP/1.1",
        "wsgi.version": (1, 0),
        "wsgi.url_scheme": "http",
        "wsgi.input": io.BytesIO(raw),
        "wsgi.errors": sys.stderr,
        "wsgi.multithread": False,
        "wsgi.multiprocess": False,
        "wsgi.run_once": False,
    }
    for k, v in (headers or {}).items():
        environ["HTTP_" + k.upper().replace("-", "_")] = v
    out = {}

    def start_response(status, hdrs):
        out["status"] = int(status.split()[0])
        out["headers"] = dict(hdrs)

    chunks = app(environ, start_response)
    try:
        out["body"] = b"".join(chunks)
    finally:
        # PEP 3333: the server must call close() on the returned
        # iterable — wsgiref.validate's wrapper warns at GC otherwise
        close = getattr(chunks, "close", None)
        if close is not None:
            close()
    return out


@pytest.fixture(scope="module")
def served_root(spark, sf_dir, tmp_path_factory):
    """Built model store root + a request payload (shared by the WSGI
    in-process tests and the CLI serve subprocess smoke)."""
    root = str(tmp_path_factory.mktemp("served_models"))
    machine = Machine.from_config(
        {
            "name": "srv-machine",
            "dataset": {
                "tag_list": TAGS,
                "resolution": "1H",
                "interpolation_method": "ffill",
                "interpolation_limit": "6H",
                "data_provider": {
                    "type": "EventsAsSensorProvider",
                    "sf_dir": sf_dir,
                },
            },
            "model": {"kind": "DiffBasedAnomalyDetector", "window": 6},
        }
    )
    ModelBuilder(machine, ModelStore(root)).build(spark)
    payload = {
        "X": {t: {"2024-01-01T00:00:00": 1.0 + i, "2024-01-01T01:00:00": 2.0 + i}
              for i, t in enumerate(TAGS)},
        "y": {t: {"2024-01-01T00:00:00": 1.5 + i, "2024-01-01T01:00:00": 2.5 + i}
              for i, t in enumerate(TAGS)},
    }
    return root, payload


@pytest.fixture(scope="module")
def served(spark, served_root):
    root, payload = served_root
    rev = ModelStore(root).latest_revision()
    return build_app(spark, root), rev, payload


def test_healthcheck_and_version(served):
    app, _, _ = served
    r = call(app, "/healthcheck")
    assert r["status"] == 200
    assert "gordo-server-version" in json.loads(r["body"])
    assert call(app, "/server-version")["status"] == 200


def test_metadata_stamps_revision_and_proxy_prefix(served):
    app, rev, _ = served
    for path in ("/srv-machine/metadata", "/gordo/v0/proj-a/srv-machine/metadata"):
        r = call(app, path)
        assert r["status"] == 200
        body = json.loads(r["body"])
        assert body["revision"] == rev
        assert r["headers"]["revision"] == rev
        assert body["metadata"]["build-metadata"]["dataset"]["resolution"] == "1H"


def test_prediction_and_anomaly_json(served):
    app, rev, payload = served
    r = call(app, "/srv-machine/prediction", "POST", payload)
    assert r["status"] == 200
    data = json.loads(r["body"])["data"]
    assert set(data["model_output"]) == set(TAGS)

    r = call(app, "/srv-machine/anomaly/prediction", "POST", payload)
    assert r["status"] == 200
    body = json.loads(r["body"])
    assert body["revision"] == rev
    tops = set(body["data"])
    assert {"model_input", "model_output", "tag_anomaly_scaled",
            "total_anomaly_scaled", "anomaly_confidence"} <= tops
    # smooth-* dropped by default, kept with ?all_columns
    assert not any(t.startswith("smooth_") for t in tops)
    r2 = call(app, "/srv-machine/anomaly/prediction?all_columns=true", "POST", payload)
    assert any(t.startswith("smooth_") for t in json.loads(r2["body"])["data"])


def test_parquet_response_format(served):
    import pyarrow.parquet as pq

    app, rev, payload = served
    r = call(app, "/srv-machine/anomaly/prediction?format=parquet", "POST", payload)
    assert r["status"] == 200
    assert r["headers"]["Content-Type"] == "application/octet-stream"
    assert r["headers"]["revision"] == rev
    pdf = pq.read_table(io.BytesIO(r["body"])).to_pandas()
    assert any(c.startswith("total_anomaly") for c in pdf.columns)
    assert len(pdf) == 2
    # the rows keep their timestamps: the index is the JSON response's keys
    data = json.loads(call(app, "/srv-machine/anomaly/prediction", "POST", payload)["body"])["data"]
    assert pdf.index.name == "start"
    assert [t.isoformat() for t in pdf.index] == list(data["end"])


@pytest.mark.parametrize("ts_in", ["column", "index"])
def test_parquet_multipart_request(served, spark, ts_in):
    """Parquet parts carry their timestamps as a ``ts`` column, or in the
    index as ``pa.Table.from_pandas`` writes a DatetimeIndexed frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    app, _, _ = served
    ts = pd.to_datetime(["2024-01-01T00:00:00", "2024-01-01T01:00:00"])

    def part_bytes(vals):
        pdf = pd.DataFrame({"ts": ts, **{t: vals for t in TAGS}})
        if ts_in == "index":
            pdf = pdf.set_index("ts").rename_axis(None)
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(pdf), buf)
        return buf.getvalue()

    boundary = "bnd123"
    body = b""
    for name, data in (("X", part_bytes([1.0, 2.0])), ("y", part_bytes([1.5, 2.5]))):
        body += (
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="{name}"; filename="{name}.parquet"\r\n'
            "Content-Type: application/octet-stream\r\n"
            "Content-Transfer-Encoding: base64\r\n\r\n"
        ).encode()
        import base64

        body += base64.b64encode(data) + b"\r\n"
    body += f"--{boundary}--\r\n".encode()
    r = call(
        app,
        "/srv-machine/anomaly/prediction",
        "POST",
        body,
        content_type=f"multipart/form-data; boundary={boundary}",
    )
    assert r["status"] == 200, r["body"]
    data = json.loads(r["body"])["data"]
    assert "total_anomaly_unscaled" in data
    assert list(data["end"]) == [t.isoformat() for t in ts]


def test_revision_resolution_and_errors(served):
    app, rev, payload = served
    # explicit valid revision via query arg and via header
    for kw in (
        {"path": f"/srv-machine/metadata?revision={rev}"},
        {"path": "/srv-machine/metadata", "headers": {"revision": rev}},
    ):
        r = call(app, kw["path"], headers=kw.get("headers"))
        assert r["status"] == 200 and json.loads(r["body"])["revision"] == rev
    # malformed revision -> 410 "is not valid" (reference server.py:183-192)
    r = call(app, "/srv-machine/metadata?revision=not-a-rev")
    assert r["status"] == 410 and "not valid" in json.loads(r["body"])["error"]
    # unknown numeric revision -> 410 "not found"
    r = call(app, "/srv-machine/metadata?revision=123")
    assert r["status"] == 410 and "not found" in json.loads(r["body"])["error"]
    # unknown machine -> 404
    assert call(app, "/no-such-machine/metadata")["status"] == 404
    # missing X -> 400
    r = call(app, "/srv-machine/prediction", "POST", {"y": {}})
    assert r["status"] == 400
    # arity mismatch (missing tag column) -> 400
    bad = {"X": {"click": {"2024-01-01T00:00:00": 1.0}}}
    r = call(app, "/srv-machine/prediction", "POST", bad)
    assert r["status"] == 400
    # anomaly without y -> 400
    r = call(app, "/srv-machine/anomaly/prediction", "POST", {"X": payload["X"]})
    assert r["status"] == 400
    # unknown route -> 404
    assert call(app, "/srv-machine/nope")["status"] == 404


def test_not_found_names_machine_and_revision_only(served, served_root):
    """A 404 for a missing model names the machine and the revision, never
    a path under the server's store root."""
    app, rev, _ = served
    root, _ = served_root
    for path in ("/no-such-machine/metadata", f"/no-such-machine/download-model?revision={rev}"):
        r = call(app, path)
        assert r["status"] == 404
        error = json.loads(r["body"])["error"]
        assert error == f"no model 'no-such-machine' in revision {rev}"
        assert root not in r["body"].decode()


def test_runs_under_wsgiref_validator(served):
    """The app is spec-compliant WSGI (what any container would host)."""
    from wsgiref.validate import validator

    app, _, _ = served
    r = call(validator(app), "/healthcheck")
    assert r["status"] == 200


def test_project_level_routes(served):
    """models / revisions / expected-models (base.py:183-220)."""
    app, rev, _ = served
    r = call(app, "/gordo/v0/proj/models")
    assert r["status"] == 200
    assert json.loads(r["body"])["models"] == ["srv-machine"]
    r = call(app, "/revisions")
    body = json.loads(r["body"])
    assert body["latest"] == rev and rev in body["available-revisions"]
    r = call(app, "/expected-models")
    assert json.loads(r["body"])["expected-models"] == []


def test_fleet_build_serves_every_machine_from_one_revision(spark, sf_dir, served_root, tmp_path):
    """``build_machines`` writes a fleet into one revision, so the latest
    revision lists every machine and revision-less requests find them."""
    from gordo_spark.builder import build_machines

    _, payload = served_root
    root = str(tmp_path / "fleet")
    config = {
        "dataset": {
            "tag_list": TAGS, "resolution": "1H",
            "data_provider": {"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
        },
        "model": {"kind": "DiffBasedAnomalyDetector", "window": 6},
    }
    machines = [Machine.from_config({**config, "name": n}) for n in ("fleet-a", "fleet-b")]
    build_machines(spark, machines, ModelStore(root), max_workers=2)
    assert len(ModelStore(root).revisions()) == 1
    app = build_app(spark, root)
    r = call(app, "/models")
    assert json.loads(r["body"])["models"] == ["fleet-a", "fleet-b"]
    assert call(app, "/fleet-a/prediction", "POST", payload)["status"] == 200


def test_download_model_and_healthcheck_alias(served, spark):
    import pickle

    app, rev, payload = served
    r = call(app, "/srv-machine/download-model")
    assert r["status"] == 200
    assert r["headers"]["Content-Type"] == "application/octet-stream"
    assert r["headers"]["revision"] == rev
    model = pickle.loads(r["body"])
    assert hasattr(model, "anomaly")  # the served detector round-trips
    # machine-level healthcheck serves metadata (base.py:137-160)
    r = call(app, "/srv-machine/healthcheck")
    assert r["status"] == 200 and json.loads(r["body"])["revision"] == rev


def test_delete_revision_contracts(served, spark, tmp_path):
    """422 non-numeric, 409 current, 200 + gone for an old revision
    (base.py:116-134)."""
    from gordo_spark.sources.store import ModelStore

    app, rev, _ = served
    r = call(app, "/srv-machine/revision/not-numeric", method="DELETE")
    assert r["status"] == 422
    assert "only contains numbers" in json.loads(r["body"])["error"]
    r = call(app, f"/srv-machine/revision/{rev}", method="DELETE")
    assert r["status"] == 409
    # plant an older revision, then delete it
    store = ModelStore(app.store_root)
    model, _meta = store.load("srv-machine", rev)
    store.dump(model, "srv-machine", {}, revision="1000000000000")
    assert "1000000000000" in store.revisions()
    r = call(app, "/srv-machine/revision/1000000000000", method="DELETE")
    assert r["status"] == 200 and json.loads(r["body"])["ok"] is True
    assert "1000000000000" not in store.revisions()


def test_prometheus_metrics_exposition(served):
    """Counter + latency summary per (method, path-template, status) in
    text exposition format (reference prometheus/metrics.py:49-91; the
    machine name collapses to <name> to bound label cardinality)."""
    app, _, payload = served
    call(app, "/srv-machine/metadata")
    call(app, "/srv-machine/prediction", "POST", payload)
    call(app, "/srv-machine/metadata?revision=bad-rev")  # 410
    r = call(app, "/prometheus/metrics")
    assert r["status"] == 200
    assert r["headers"]["Content-Type"].startswith("text/plain")
    text = r["body"].decode()
    assert "# TYPE gordo_server_requests_total counter" in text
    assert 'method="GET",path="/<name>/metadata",status_code="200"' in text
    assert 'method="POST",path="/<name>/prediction",status_code="200"' in text
    assert 'status_code="410"' in text
    # latency summary present and positive
    import re as _re

    m = _re.search(
        r'gordo_server_request_duration_seconds_sum\{method="POST",'
        r'path="/<name>/prediction",status_code="200"\} ([0-9.]+)',
        text,
    )
    assert m and float(m.group(1)) > 0


def test_cli_serve_smoke(served_root, tmp_path):
    """`python -m gordo_spark.cli serve` (reference `gordo run-server`,
    cli.py:255-353): starts, prints its bound address, answers
    /server-version and one anomaly POST over a real socket, and exits
    clean on SIGTERM."""
    import signal
    import subprocess
    import sys
    import time
    import urllib.request

    root, payload = served_root
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "gordo_spark.cli", "serve",
            "--models-dir", root, "--host", "127.0.0.1", "--port", "0",
            "--workers", "1", "--threads", "2",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        line = ""
        deadline = time.time() + 120  # subprocess boots its own JVM
        while time.time() < deadline:
            line = proc.stdout.readline()
            if "listening on" in line:
                break
            assert proc.poll() is None, "serve exited before listening"
        assert "listening on" in line, "no readiness line within timeout"
        base = line.split("listening on ")[1].split()[0].replace(
            "0.0.0.0", "127.0.0.1"
        )
        with urllib.request.urlopen(f"{base}/server-version", timeout=30) as r:
            assert r.status == 200
            assert b"version" in r.read()
        req = urllib.request.Request(
            f"{base}/srv-machine/anomaly/prediction",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 200
            body = json.loads(r.read())
            assert "total_anomaly_scaled" in body["data"]
    finally:
        proc.send_signal(signal.SIGTERM)
        try:
            rc = proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            raise AssertionError("serve did not exit on SIGTERM")
    assert rc == 0


class _BuggyDetector:
    """Has ``anomaly``, but scoring hits an AttributeError inside it — a
    bug to report, not a model that lacks anomaly detection."""

    feature_cols = target_cols = TAGS

    def anomaly(self, frame, resolution="10T", ts_col="ts", all_columns=False):
        return None.columns


def test_attribute_error_inside_anomaly_is_not_a_422(spark, served_root, tmp_path):
    from gordo_spark.ml.models import LinearModel

    _, payload = served_root
    store = ModelStore(str(tmp_path / "models"))
    store.dump(_BuggyDetector(), "buggy", {})
    store.dump(LinearModel(TAGS, TAGS), "plain", {}, revision=store.latest_revision())
    app = build_app(spark, store.root)
    r = call(app, "/buggy/anomaly/prediction", "POST", payload)
    assert r["status"] == 500
    assert "AttributeError" in json.loads(r["body"])["error"]
    # a model without .anomaly is still the 422 of blueprints/anomaly.py
    r = call(app, "/plain/anomaly/prediction", "POST", payload)
    assert r["status"] == 422


def test_anomaly_scores_the_revision_it_checked(spark, served_root, tmp_path, monkeypatch):
    """The route resolves the latest revision once: a revision published
    between its ``anomaly`` check and the scoring is not scored."""
    import itertools

    from gordo_spark.ml.models import LinearModel

    root, payload = served_root
    model, metadata = ModelStore(root).load("srv-machine")
    store = ModelStore(str(tmp_path / "models"))
    store.dump(model, "srv-machine", metadata, revision="1000000001")
    # the newer revision has no anomaly(): scoring it unchecked would fail
    store.dump(LinearModel(TAGS, TAGS), "srv-machine", metadata, revision="1000000002")
    revs = itertools.chain(["1000000001"], itertools.repeat("1000000002"))
    monkeypatch.setattr(ModelStore, "latest_revision", lambda self: next(revs))
    r = call(build_app(spark, store.root), "/srv-machine/anomaly/prediction", "POST", payload)
    assert r["status"] == 200, r["body"]
    assert json.loads(r["body"])["revision"] == r["headers"]["revision"] == "1000000001"


def test_blanket_500_names_the_exception(served, monkeypatch):
    """The 500 body is the exception's type and first message line, also
    when the message ends in a newline (as Spark analysis errors do)."""
    app, _, payload = served

    def boom(*args, **kwargs):
        raise RuntimeError("boom\n")

    monkeypatch.setattr("gordo_spark.server.anomaly_response", boom)
    r = call(app, "/srv-machine/anomaly/prediction", "POST", payload)
    assert r["status"] == 500
    assert json.loads(r["body"]) == {"error": "RuntimeError: boom"}


def test_request_job_counts(served, job_count):
    """One local request frame through the model's projection, collected on
    the driver: an anomaly request and a prediction run no Spark job (the
    smooth-* windows of ?all_columns run 2)."""
    app, _, payload = served
    paths = {
        "anomaly": "/srv-machine/anomaly/prediction",
        "all_columns": "/srv-machine/anomaly/prediction?all_columns=true",
        "prediction": "/srv-machine/prediction",
    }
    jobs = {}
    for route, path in paths.items():
        assert call(app, path, "POST", payload)["status"] == 200  # warm
        jobs[route] = job_count(f"request-{route}", lambda: call(app, path, "POST", payload))
    assert jobs == {"anomaly": 0, "all_columns": 2, "prediction": 0}


def test_integer_keyed_prediction_keeps_its_keys(served):
    """Nested-dict keys that are not datetimes are kept as an integer ts,
    as positional rows are, and key the response."""
    app, _, _ = served
    payload = {"X": {t: {"0": 1.0 + i, "1": 2.0 + i} for i, t in enumerate(TAGS)}}
    r = call(app, "/srv-machine/prediction", "POST", payload)
    assert r["status"] == 200, r["body"]
    out = json.loads(r["body"])["data"]["model_output"]
    assert all(set(out[t]) == {"0", "1"} for t in TAGS)


@pytest.mark.parametrize("shape", ["positional", "integer-keyed"])
def test_anomaly_without_timestamps_is_a_400(served, shape):
    """Anomaly scoring buckets rows by time: a request keyed by row numbers
    is rejected before Spark."""
    app, _, _ = served
    if shape == "positional":
        payload = {"X": [[1.0, 2.0, 3.0], [2.0, 3.0, 4.0]], "y": [[1.5, 2.5, 3.5], [2.5, 3.5, 4.5]]}
    else:
        payload = {
            side: {t: {"0": v + i, "1": v + 1 + i} for i, t in enumerate(TAGS)}
            for side, v in (("X", 1.0), ("y", 1.5))
        }
    r = call(app, "/srv-machine/anomaly/prediction", "POST", payload)
    assert r["status"] == 400, r["body"]
    assert "timestamps" in json.loads(r["body"])["error"]


def _xy_store(spark, xy_wide, root, base=None, smoothing="smm"):
    """The in-memory ``xy`` machine built into a store at ``root``."""
    wide, _ = xy_wide
    machine = _xy_machine(3, base=base)
    machine.model["smoothing_method"] = smoothing
    store = ModelStore(root)
    ModelBuilder(machine, store, wide_frame=wide).build(spark)
    return store


def _xy_payload(n=100, seed=7):
    rng = np.random.default_rng(seed)
    keys = [t.isoformat() for t in pd.date_range("2019-02-01", periods=n, freq="10min")]
    return {
        side: {c: dict(zip(keys, rng.random(n))) for c in cols}
        for side, cols in (("X", ["a", "b"]), ("y", ["t1", "t2"]))
    }


@pytest.mark.parametrize(
    "base,smoothing,expected",
    [
        (None, "smm", {"anomaly": 0, "all_columns": 2, "prediction": 0}),
        (None, "ewma", {"anomaly": 0, "all_columns": 2, "prediction": 0}),
        (_lagged(3, 1), "smm", {"anomaly": 2, "all_columns": 2, "prediction": 2}),
        (_AUTOENCODER, "smm", {"anomaly": 1, "all_columns": 2, "prediction": 1}),
    ],
    ids=["linear", "linear-ewma", "lagged", "autoencoder"],
)
def test_request_job_counts_per_base(
    spark, xy_wide, tmp_path, job_count, base, smoothing, expected
):
    """Every base scores the request frame through its ``outputs``, with no
    prediction join, and the default anomaly block builds no smoothing (an
    ``ewma`` detector runs no pandas pass): a warm 100-row request on the
    in-memory ``xy`` machine."""
    store = _xy_store(spark, xy_wide, str(tmp_path / "models"), base, smoothing)
    app = build_app(spark, store.root)
    payload = _xy_payload()
    paths = {
        "anomaly": "/xy-machine/anomaly/prediction",
        "all_columns": "/xy-machine/anomaly/prediction?all_columns=true",
        "prediction": "/xy-machine/prediction",
    }
    jobs = {}
    for route, path in paths.items():
        assert call(app, path, "POST", payload)["status"] == 200  # warm
        group = f"request-{route}-{base and base['kind']}-{smoothing}"
        jobs[route] = job_count(group, lambda: call(app, path, "POST", payload))
    assert jobs == expected


def test_projection_built_once_per_loaded_model(spark, xy_wide, tmp_path, monkeypatch):
    """N requests to one loaded model build its anomaly and prediction
    Column lists once; after the LRU evicts it, its reload builds them once
    more."""
    from gordo_spark.ml import models

    store = _xy_store(spark, xy_wide, str(tmp_path / "models"))
    rev = store.latest_revision()
    model, metadata = store.load("xy-machine", rev)
    for other in ("1000000001", "1000000002"):
        store.dump(model, "xy-machine", metadata, revision=other)
    builds = {"anomaly": 0, "prediction": 0}

    def counted(fn, key):
        def wrapper(*args, **kwargs):
            builds[key] += 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(models, "anomaly_projection", counted(models.anomaly_projection, "anomaly"))
    monkeypatch.setattr(
        models.LinearModel, "_output_columns",
        counted(models.LinearModel._output_columns, "prediction"),
    )
    app = build_app(spark, store.root)
    payload = _xy_payload()

    def requests(revision, n):
        for _ in range(n):
            for path in ("/xy-machine/anomaly/prediction", "/xy-machine/prediction"):
                r = call(app, path, "POST", payload, headers={"revision": revision})
                assert r["status"] == 200, r["body"]

    requests(rev, 4)
    assert builds == {"anomaly": 1, "prediction": 1}
    requests("1000000001", 1)
    requests("1000000002", 1)  # two other models fill the 2-entry LRU
    assert builds == {"anomaly": 3, "prediction": 3}
    requests(rev, 3)  # reloaded: built once more
    assert builds == {"anomaly": 4, "prediction": 4}


def test_server_timing_header(served):
    """Scoring routes report their phases in a ``Server-Timing`` header
    (``<phase>;dur=<ms>``); the metadata route does not."""
    app, _, payload = served
    for path in ("/srv-machine/prediction", "/srv-machine/anomaly/prediction",
                 "/srv-machine/anomaly/prediction?format=parquet"):
        r = call(app, path, "POST", payload)
        assert r["status"] == 200
        phases = {}
        for entry in r["headers"]["Server-Timing"].split(", "):
            name, dur = entry.split(";")
            assert dur.startswith("dur=")
            phases[name] = float(dur[len("dur="):])
        assert list(phases) == ["parse", "plan", "execute", "serialize"]
        assert all(v >= 0 for v in phases.values())
    assert "Server-Timing" not in call(app, "/srv-machine/metadata")["headers"]
