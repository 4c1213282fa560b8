"""Autoencoder factory parity tests — the reference's architecture
contract (layer counts / units / registry semantics) mirrored in numpy,
including the reference's own doctest cases
(feedforward_autoencoder.py:223-238, lstm_autoencoder.py:235-247)."""

import numpy as np
import pytest

from gordo_spark.ml.factories import (
    AutoEncoderEstimator,
    NumpyAutoEncoder,
    feedforward_hourglass,
    feedforward_model,
    feedforward_symmetric,
    hourglass_calc_dims,
    lstm_hourglass,
    register_model_builder,
)


def units(model):
    return [model.layers[i].units for i in range(len(model.layers))]


def test_hourglass_doctest_parity():
    """The reference's doctests, verbatim."""
    m = feedforward_hourglass(10)
    assert len(m.layers) == 7
    assert units(m) == [8, 7, 5, 5, 7, 8, 10]
    assert units(feedforward_hourglass(5)) == [4, 4, 3, 3, 4, 4, 5]
    assert units(feedforward_hourglass(10, compression_factor=0.2)) == [7, 5, 2, 2, 5, 7, 10]
    assert units(feedforward_hourglass(10, encoding_layers=1)) == [5, 5, 10]


def test_lstm_hourglass_doctest_parity():
    m = lstm_hourglass(10)
    assert units(m) == [8, 7, 5, 5, 7, 8, 10]
    assert units(lstm_hourglass(5)) == [4, 4, 3, 3, 4, 4, 5]
    assert units(lstm_hourglass(10, compression_factor=0.2)) == [7, 5, 2, 2, 5, 7, 10]
    assert units(lstm_hourglass(10, encoding_layers=1)) == [5, 5, 10]
    # LSTM input is the flattened lookback block
    assert lstm_hourglass(10, lookback_window=3).n_features == 30


def test_hourglass_dim_math_bounds():
    assert hourglass_calc_dims(1.0, 3, 10) == (10, 10, 10)
    # compression 0 clamps the smallest layer to 1 neuron
    assert hourglass_calc_dims(0.0, 2, 9) == (5, 1)
    with pytest.raises(ValueError):
        hourglass_calc_dims(1.5, 3, 10)
    with pytest.raises(ValueError):
        hourglass_calc_dims(0.5, 0, 10)
    # NaN compression must be rejected (the `< 0 or > 1` form lets it
    # through); n_features=0 clamps the bottleneck min-then-max to 1,
    # so the widths slope up toward it (reference-parity values)
    with pytest.raises(ValueError):
        hourglass_calc_dims(float("nan"), 3, 10)
    assert hourglass_calc_dims(0.5, 2, 0) == (0, 1)


def test_symmetric_mirrors_and_output_layer():
    m = feedforward_symmetric(6, dims=(5, 3), funcs=("tanh", "relu"))
    assert units(m) == [5, 3, 3, 5, 6]
    assert [lay.activation for lay in m.layers] == ["tanh", "relu", "relu", "tanh", "linear"]
    with pytest.raises(ValueError, match="at least one encoder width"):
        feedforward_symmetric(6, dims=())


def test_feedforward_model_dim_func_mismatch():
    with pytest.raises(ValueError, match="encoding_dim"):
        feedforward_model(4, encoding_dim=(3, 2), encoding_func=("tanh",))


def test_registry_semantics():
    fac = register_model_builder.factories
    assert "feedforward_hourglass" in fac["KerasAutoEncoder"]
    assert "lstm_hourglass" in fac["KerasLSTMAutoEncoder"]
    assert "lstm_hourglass" in fac["KerasLSTMForecast"]
    with pytest.raises(ValueError, match="n_features"):
        register_model_builder(type="X")(lambda m: m)


def test_numpy_autoencoder_trains_and_is_deterministic():
    rng = np.random.default_rng(11)
    latent = rng.normal(size=(300, 2))
    X = np.column_stack([latent @ rng.normal(size=(2, 6))])  # rank-2 in R^6
    m1 = feedforward_hourglass(6, epochs=300, seed=0)
    m2 = feedforward_hourglass(6, epochs=300, seed=0)
    m1.fit(X)
    m2.fit(X)
    p1, p2 = m1.predict(X), m2.predict(X)
    np.testing.assert_array_equal(p1, p2)  # pinned seed => bit-identical
    # training reduced reconstruction error vs the untrained net
    untrained = NumpyAutoEncoder(m1.layers, 6, epochs=0, seed=0).fit(X)
    assert np.mean((p1 - X) ** 2) < 0.5 * np.mean((untrained.predict(X) - X) ** 2)


def test_autoencoder_estimator_builds_at_fit_time():
    est = AutoEncoderEstimator(kind="feedforward_hourglass", epochs=50)
    X = np.random.RandomState(0).rand(100, 5)
    est.fit(X, X)
    assert units(est.model_) == [4, 4, 3, 3, 4, 4, 5]
    assert est.predict(X).shape == (100, 5)
    with pytest.raises(ValueError, match="unknown model builder"):
        AutoEncoderEstimator(kind="nope")


def test_autoencoder_through_builder_end_to_end(spark, sf_dir, tmp_path):
    """The reference's production model config — a kind-built autoencoder
    inside the diff-based detector — flows through ModelBuilder to a full
    anomaly block with thresholds."""
    from gordo_spark.builder import ModelBuilder
    from gordo_spark.config import Machine
    from gordo_spark.sources.store import DiskRegistry, ModelStore

    machine = Machine.from_config(
        {
            "name": "ae-machine",
            "dataset": {
                "tag_list": ["click", "view", "purchase"],
                "resolution": "1H",
                "interpolation_method": "ffill",
                "interpolation_limit": "6H",
                "data_provider": {
                    "type": "EventsAsSensorProvider",
                    "sf_dir": sf_dir,
                },
            },
            "model": {
                "kind": "DiffBasedAnomalyDetector",
                "window": 6,
                "base_estimator": {
                    "kind": "PythonEstimatorModel",
                    "estimator": "gordo_spark.ml.factories.AutoEncoderEstimator",
                    "estimator_kwargs": {
                        "kind": "feedforward_hourglass",
                        "epochs": 30,
                        "seed": 0,
                    },
                },
            },
            "evaluation": {"cv_mode": "full_build", "n_splits": 3},
        }
    )
    store = ModelStore(str(tmp_path / "models"))
    registry = DiskRegistry(str(tmp_path / "registry"))
    r = ModelBuilder(machine, store, registry).build(spark)
    th = r.metadata["build-metadata"]["model"]["thresholds"]
    assert th["total"] > 0
    from gordo_spark.builder import dataset_from_dict
    from gordo_spark.ml.models import with_targets

    ds = dataset_from_dict(machine.dataset)
    X, y = ds.get_data(spark)
    out = r.model.anomaly(with_targets(X, y, r.model.base.target_cols), resolution="1H").toPandas()
    for col in ("total_anomaly_unscaled", "total_anomaly_scaled",
                "anomaly_confidence__click", "total_anomaly_confidence"):
        assert col in out.columns
    assert len(out) > 100
    assert np.isfinite(out["total_anomaly_unscaled"]).all()
    # every row of predict(), with the values of predict() joined to y on ts
    from tests.test_ml import assert_join_path_values

    assert_join_path_values(out, r.model, X, y)


@pytest.mark.parametrize(
    "backend",
    [
        "numpy",
        pytest.param(
            "keras",
            marks=pytest.mark.skipif(
                not __import__(
                    "gordo_spark.ml.factories", fromlist=["tensorflow_available"]
                ).tensorflow_available(),
                reason="tensorflow not installed",
            ),
        ),
    ],
)
def test_backend_seam_fit_predict(backend):
    """The deep-model import gate: the SAME factory call produces a
    fit/predictable estimator on either branch — production parity is a
    pip install (tensorflow), not a rewrite. The numpy branch always
    runs; the keras branch runs wherever tensorflow imports."""
    from gordo_spark.ml.factories import (
        KerasSequentialAdapter, NumpyAutoEncoder, feedforward_hourglass,
    )

    m = feedforward_hourglass(6, epochs=20, seed=0, backend=backend)
    expected = NumpyAutoEncoder if backend == "numpy" else KerasSequentialAdapter
    assert isinstance(m, expected)
    # identical architecture spec on both branches
    assert [l.units for l in m.layers] == [5, 4, 3, 3, 4, 5, 6]
    rng = np.random.RandomState(0)
    X = rng.normal(size=(40, 6))
    out = m.fit(X).predict(X)
    assert out.shape == (40, 6)
    assert np.isfinite(out).all()


def test_timeseries_windows_generator_parity():
    """Window/target alignment matches the reference's
    create_keras_timeseriesgenerator (models.py:713-793) for lookahead
    0 / 1 / >1, including the sample counts of its doctest (100 rows,
    lookback 20, lookahead 0 -> 81 samples of shape (20, 2))."""
    from gordo_spark.ml.factories import timeseries_windows

    rng = np.random.RandomState(7)
    X = rng.rand(100, 2)
    y = rng.rand(100, 2)
    xb, yb = timeseries_windows(X, y, 20, 0)
    assert xb.shape == (81, 20, 2) and yb.shape == (81, 2)
    # lookahead 0: target is the window's LAST element's y
    assert np.array_equal(xb[0], X[:20]) and np.array_equal(yb[0], y[19])
    assert np.array_equal(xb[-1], X[80:]) and np.array_equal(yb[-1], y[99])
    xb, yb = timeseries_windows(X, y, 20, 1)
    assert xb.shape == (80, 20, 2)
    assert np.array_equal(yb[0], y[20]) and np.array_equal(yb[-1], y[99])
    xb, yb = timeseries_windows(X, y, 20, 3)
    assert xb.shape == (78, 20, 2)
    assert np.array_equal(yb[0], y[22]) and np.array_equal(yb[-1], y[99])
    with pytest.raises(ValueError, match="negative"):
        timeseries_windows(X, y, 20, -1)
    with pytest.raises(ValueError, match="lookback_window"):
        timeseries_windows(X[:5], y[:5], 5, 0)


def test_timeseries_windows_matches_spark_lookback_windows(spark):
    """The executor-side numpy windowing and the distributed
    align.lookback_windows compute the SAME (window, target) pairs."""
    import datetime as dt

    from gordo_spark.ml.factories import timeseries_windows
    from gordo_spark.operators.align import lookback_windows

    rng = np.random.RandomState(11)
    vals = np.round(rng.rand(30, 2), 6)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0 + dt.timedelta(hours=i), float(vals[i, 0]), float(vals[i, 1]))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, a double, b double")
    got = (
        lookback_windows(df, ["a", "b"], lookback=4, lookahead=1)
        .orderBy("ts")
        .collect()
    )
    xb, yb = timeseries_windows(vals, vals, 4, 1)
    assert len(got) == len(xb)
    for i, r in enumerate(got):
        assert r["win_a"] == pytest.approx(xb[i, :, 0].tolist())
        assert r["win_b"] == pytest.approx(xb[i, :, 1].tolist())
        assert (r["target_a"], r["target_b"]) == pytest.approx(tuple(yb[i]))


@pytest.mark.skipif(
    not __import__(
        "gordo_spark.ml.factories", fromlist=["tensorflow_available"]
    ).tensorflow_available(),
    reason="tensorflow not installed",
)
@pytest.mark.parametrize("lookahead", [0, 1, 2])
def test_keras_lstm_adapter_builds_and_fits(lookahead):
    """backend='keras' on the LSTM factories emits a real recurrent
    stack — reference lstm_autoencoder.py:17-103 wiring: every LSTM
    return_sequences=True except the last, Dense head, 3-D
    (lookback, n_features) input — and fit/predict window the 2-D
    series with the TimeseriesGenerator offsets."""
    import tensorflow as tf

    from gordo_spark.ml.factories import lstm_hourglass

    m = lstm_hourglass(
        3,
        lookback_window=4,
        encoding_layers=2,
        epochs=2,
        backend="keras",
        lookahead=lookahead,
    )
    rng = np.random.RandomState(0)
    X = rng.rand(40, 3)
    out = m.fit(X, X).predict(X)
    assert out.shape == (40 - 4 + 1 - lookahead, 3)
    assert np.isfinite(out).all()
    lstm_layers = [
        lay for lay in m.model_.layers if isinstance(lay, tf.keras.layers.LSTM)
    ]
    assert len(lstm_layers) == 4  # 2 encoder + 2 decoder
    assert [lay.return_sequences for lay in lstm_layers] == [
        True, True, True, False,
    ]
    assert m.model_.layers[0].input_shape == (None, 4, 3)


def test_backend_auto_and_errors():
    """backend='auto' resolves by tensorflow availability; demanding
    keras without tensorflow fails loudly; unknown backends raise."""
    from gordo_spark.ml.factories import (
        KerasSequentialAdapter, NumpyAutoEncoder, feedforward_hourglass,
        tensorflow_available,
    )

    m = feedforward_hourglass(6, backend="auto")
    expected = (
        KerasSequentialAdapter if tensorflow_available() else NumpyAutoEncoder
    )
    assert isinstance(m, expected)
    if not tensorflow_available():
        with pytest.raises(ImportError, match="tensorflow"):
            feedforward_hourglass(6, backend="keras")
    with pytest.raises(ValueError, match="unknown backend"):
        feedforward_hourglass(6, backend="jax")
