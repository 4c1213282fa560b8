"""§3.2 endpoint parity: build a model, then drive the prediction /
anomaly / metadata responses with JSON-shaped payloads."""

import numpy as np
import pytest

from gordo_spark.builder import ModelBuilder
from gordo_spark.config import Machine
from gordo_spark.serving import (
    anomaly_response,
    metadata_response,
    prediction_response,
)
from gordo_spark.sources.store import ModelStore

TAGS = ["click", "view", "purchase"]


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("models"))
    machine = Machine.from_config(
        {
            "name": "serve-machine",
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
    r = ModelBuilder(machine, ModelStore(root)).build(spark)
    return root, r


@pytest.fixture(scope="module")
def payload(spark, sf_dir):
    from gordo_spark.plans import TimeSeriesDataset

    ds = TimeSeriesDataset(
        tag_list=TAGS,
        resolution="1H",
        interpolation_method="ffill",
        interpolation_limit="6H",
        data_provider={"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
    )
    pdf = ds.wide_frame(spark).toPandas().sort_values("ts").head(50)
    nested = {
        t: {ts.isoformat(): v for ts, v in zip(pdf["ts"], pdf[t])} for t in TAGS
    }
    return {"X": nested, "y": nested}


def test_metadata_response(built):
    root, r = built
    resp = metadata_response(root, "serve-machine")
    assert resp["name"] == "serve-machine"
    assert resp["revision"] is not None
    assert "thresholds" in resp["metadata"]["build-metadata"]["model"]


def test_prediction_response(spark, built, payload):
    root, _ = built
    resp = prediction_response(spark, root, "serve-machine", payload)
    data = resp["data"]
    assert set(data) == {"model_output"}
    assert set(data["model_output"]) == set(TAGS)
    # OLS on its own inputs reproduces them almost exactly
    first_ts = sorted(data["model_output"]["click"])[0]
    got = data["model_output"]["click"][first_ts]
    exp = payload["X"]["click"][first_ts]
    np.testing.assert_allclose(got, exp, rtol=1e-6)


def test_anomaly_response_drops_smooth_unless_all_columns(spark, built, payload):
    root, _ = built
    resp = anomaly_response(spark, root, "serve-machine", payload)
    tops = set(resp["data"])
    assert {"model_input", "model_output", "tag_anomaly_scaled",
            "total_anomaly_scaled", "anomaly_confidence"} <= tops
    assert not any(t.startswith("smooth_") for t in tops)
    # end = start + resolution on every row
    ends = resp["data"]["end"]
    some_start = sorted(ends)[0]
    import pandas as pd

    assert pd.Timestamp(ends[some_start]) - pd.Timestamp(some_start) == pd.Timedelta("1h")

    full = anomaly_response(spark, root, "serve-machine", payload, all_columns=True)
    assert any(t.startswith("smooth_") for t in full["data"])


def test_anomaly_requires_y(spark, built, payload):
    root, _ = built
    with pytest.raises(ValueError, match="y is required"):
        anomaly_response(spark, root, "serve-machine", {"X": payload["X"]})


def _oracle(root, payload):
    """The anomaly block of ``payload`` in numpy: the served detector's
    coefficients, scaler stats and thresholds applied row by row."""
    model, _ = ModelStore(root).load("serve-machine")
    base, keys = model.base, sorted(payload["X"]["click"])
    X = np.array([[payload["X"][t][k] for k in keys] for t in base.feature_cols])
    Y = np.array([[payload["y"][t][k] for k in keys] for t in base.target_cols])
    exp, unscaled, scaled = {}, [], []
    for j, t in enumerate(base.target_cols):
        p = base.coef_[0, j]
        for i, x in enumerate(X):  # Spark's order of the sum
            p = p + base.coef_[i + 1, j] * x
        mn, mx = model.scaler.stats[t]
        rng = mx - mn if mx != mn else 1.0
        unscaled.append(np.abs(p - Y[j]))
        scaled.append(np.abs((p - mn) / rng - (Y[j] - mn) / rng))
        exp[("model_output", t)] = p
        exp[("tag_anomaly_unscaled", t)] = unscaled[-1]
        exp[("tag_anomaly_scaled", t)] = scaled[-1]
        exp[("anomaly_confidence", t)] = unscaled[-1] / model.tag_thresholds_[t]
    for i, t in enumerate(base.feature_cols):
        exp[("model_input", t)] = X[i]
    exp[("total_anomaly_unscaled",)] = sum(e * e for e in unscaled) / len(unscaled)
    exp[("total_anomaly_scaled",)] = sum(e * e for e in scaled) / len(scaled)
    exp[("total_anomaly_confidence",)] = exp[("total_anomaly_scaled",)] / model.total_threshold_
    return keys, exp


def test_responses_match_numpy_oracle(spark, built, payload):
    """Every anomaly and prediction column of the responses equals its
    numpy oracle at rtol 1e-12, keyed by the request's timestamps."""
    import pandas as pd

    root, _ = built
    keys, exp = _oracle(root, payload)
    data = anomaly_response(spark, root, "serve-machine", payload)["data"]
    assert {c[0] for c in exp} | {"end"} == set(data)
    for col, values in exp.items():
        got = data[col[0]][col[1]] if len(col) == 2 else data[col[0]]
        assert list(got) == keys, col
        np.testing.assert_allclose(list(got.values()), values, rtol=1e-12, atol=0, err_msg=str(col))
    assert data["end"] == {
        k: (pd.Timestamp(k) + pd.Timedelta("1h")).isoformat() for k in keys
    }
    pred = prediction_response(spark, root, "serve-machine", payload)["data"]
    assert set(pred) == {"model_output"}
    for t, got in pred["model_output"].items():
        assert list(got) == keys
        np.testing.assert_allclose(
            list(got.values()), exp[("model_output", t)], rtol=1e-12, atol=0, err_msg=t
        )


def test_all_columns_leading_smooth_rows_serialize_as_nan(spark, built, payload):
    """The smooth-* windows (6 rows here) leave their first 5 rows null,
    and the response writes them as NaN, as pandas did."""
    import json

    root, _ = built
    resp = anomaly_response(spark, root, "serve-machine", payload, all_columns=True)
    body = json.dumps(resp, default=str)
    assert "NaN" in body and "null" not in body
    smooth = json.loads(body)["data"]["smooth_total_anomaly_scaled"]
    values = [smooth[k] for k in sorted(smooth)]
    assert np.isnan(values[:5]).all() and np.isfinite(values[5:]).all()


def test_response_timestamps_ignore_process_time_zone(spark, built, payload, monkeypatch):
    """``collect`` returns naive datetimes in the process's time zone; the
    response keys and ``end`` stay the UTC wall clock of the request."""
    import json
    import time

    root, _ = built

    def bodies():
        return [
            json.dumps(fn(spark, root, "serve-machine", payload), default=str)
            for fn in (anomaly_response, prediction_response)
        ]

    utc = bodies()
    try:
        monkeypatch.setenv("TZ", "America/Sao_Paulo")
        time.tzset()
        assert time.strftime("%z") != "+0000"
        assert bodies() == utc
    finally:
        monkeypatch.undo()
        time.tzset()
