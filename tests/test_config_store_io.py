"""Config loader, model store, serving IO round-trips (S4-S8, S11, P1)."""

import pytest

from gordo_spark.config import Machine, load_machines, patch_dict, validate_name
from gordo_spark.sources.serving_io import (
    dataframe_from_dict,
    dataframe_from_parquet_bytes,
    dataframe_into_parquet_bytes,
    dataframe_to_dict,
    verify_columns,
)
from gordo_spark.sources.store import DiskRegistry, ModelStore, calculate_cache_key


def test_patch_dict_add_replace_only():
    base = {"a": 1, "nested": {"x": 1, "y": 2}}
    patch = {"b": 2, "nested": {"y": 3, "z": 4}}
    out = patch_dict(base, patch)
    assert out == {"a": 1, "b": 2, "nested": {"x": 1, "y": 3, "z": 4}}
    assert base == {"a": 1, "nested": {"x": 1, "y": 2}}  # no mutation


def test_machine_from_config_with_globals():
    g = {
        "dataset": {"resolution": "10T", "interpolation_limit": "48H"},
        "evaluation": {"n_splits": 3},
    }
    m = Machine.from_config(
        {
            "name": "machine-1",
            "dataset": {
                "tag_list": ["a", "b", "a"],
                "train_start_date": "2019-01-01T00:00:00+00:00",
                "train_end_date": "2019-10-01T00:00:00+00:00",
                "resolution": "2T",
            },
        },
        g,
    )
    assert m.dataset["resolution"] == "2T"  # machine overrides global
    assert m.dataset["interpolation_limit"] == "48H"  # global inherited
    assert m.dataset["tag_list"] == ["a", "b"]  # dedup preserves order


@pytest.mark.parametrize(
    "bad",
    [
        {"name": "Machine_1"},  # uppercase/underscore
        {"name": "x" * 64},  # too long
        {
            "name": "m1",
            "dataset": {
                "train_start_date": "2019-01-01T00:00:00",  # naive tz
                "train_end_date": "2019-02-01T00:00:00+00:00",
            },
        },
        {
            "name": "m1",
            "dataset": {
                "train_start_date": "2019-02-01T00:00:00+00:00",  # start > end
                "train_end_date": "2019-01-01T00:00:00+00:00",
            },
        },
        {"name": "m1", "dataset": {"resolution": "nonsense"}},
    ],
)
def test_machine_validation_rejects(bad):
    with pytest.raises(ValueError):
        Machine.from_config(bad)


def test_load_machines_multi():
    ms = load_machines(
        {
            "globals": {"dataset": {"resolution": "10T"}},
            "machines": [{"name": "m-a", "dataset": {}}, {"name": "m-b", "dataset": {}}],
        }
    )
    assert [m.name for m in ms] == ["m-a", "m-b"]
    assert all(m.dataset["resolution"] == "10T" for m in ms)


def test_model_store_revisions(tmp_path):
    store = ModelStore(str(tmp_path))
    store.dump({"w": 1}, "m1", {"meta": True}, revision="1000000000001")
    store.dump({"w": 2}, "m1", {"meta": True}, revision="1000000000002")
    model, meta = store.load("m1")
    assert model == {"w": 2}  # latest revision
    model, _ = store.load("m1", revision="1000000000001")
    assert model == {"w": 1}
    assert store.revisions() == ["1000000000001", "1000000000002"]
    store.delete_revision("1000000000001")
    assert store.revisions() == ["1000000000002"]


def test_disk_registry_build_cache(tmp_path):
    reg = DiskRegistry(str(tmp_path))
    key = calculate_cache_key("m1", {"kind": "LinearModel"}, {"tag_list": ["a"]}, {})
    assert len(key) == 128  # sha3-512 hex
    assert reg.get_value(key) is None
    reg.write_key(key, "/models/rev1/m1")
    assert reg.get_value(key) == "/models/rev1/m1"
    # same config -> same key (semantic cache hit)
    assert calculate_cache_key("m1", {"kind": "LinearModel"}, {"tag_list": ["a"]}, {}) == key
    # any config change -> different key
    assert calculate_cache_key("m1", {"kind": "LinearModel"}, {"tag_list": ["b"]}, {}) != key
    assert reg.delete_key(key) and not reg.delete_key(key)


def test_json_roundtrip(spark):
    data = {
        "tag-a": {"2019-01-01T01:00:00+00:00": 2.0, "2019-01-01T00:00:00+00:00": 1.0},
        "tag-b": {"2019-01-01T01:00:00+00:00": 4.0, "2019-01-01T00:00:00+00:00": 3.0},
    }
    pdf = dataframe_from_dict(data)
    assert list(pdf.columns) == ["ts", "tag-a", "tag-b"]
    assert pdf["tag-a"].tolist() == [1.0, 2.0]  # sorted by parsed index
    out = dataframe_to_dict(spark.createDataFrame(pdf))
    assert out["tag-a"]["2019-01-01T00:00:00"] == 1.0


def test_positional_json_and_verify_columns():
    df = dataframe_from_dict([[1.0, 2.0], [3.0, 4.0]])
    # positional payloads get a synthetic integer row-position ts key
    assert list(df.columns) == ["ts", "c0", "c1"]
    assert df["ts"].tolist() == [0, 1]
    renamed = verify_columns(df, ["tag-x", "tag-y"])
    assert list(renamed.columns) == ["ts", "tag-x", "tag-y"]
    with pytest.raises(ValueError):
        verify_columns(df, ["only-one-expected"])


def test_parquet_bytes_roundtrip():
    df = dataframe_from_dict([[1.0, 2.0], [3.0, 4.0]])
    blob = dataframe_into_parquet_bytes(df)
    assert blob[:4] == b"PAR1"
    back = dataframe_from_parquet_bytes(blob)
    assert back.equals(df)


def test_multiindex_flatten_to_dict(spark):
    df = dataframe_from_dict([[1.0, 0.5]]).rename(
        columns={"c0": "model_output__tag-a", "c1": "tag_anomaly__tag-a"}
    )
    out = dataframe_to_dict(spark.createDataFrame(df))
    assert out["model_output"]["tag-a"][0] == 1.0
    assert out["tag_anomaly"]["tag-a"][0] == 0.5


def test_sensor_lake_partition_pruning(spark, sf_dir, tmp_path):
    """Write a date-partitioned lake; a ranged read must prune partitions
    (PartitionFilters on date) and match the unpartitioned scan exactly."""
    from gordo_spark.sources.lake import SensorLakeProvider, write_sensor_lake
    from gordo_spark.sources.providers import EventsAsSensorProvider, provider_from_dict

    long = EventsAsSensorProvider(sf_dir).read(spark, ["click", "view"])
    root = str(tmp_path / "lake")
    write_sensor_lake(long, root)

    prov = provider_from_dict({"type": "SensorLakeProvider", "path": root})
    got = prov.read(
        spark, ["click"], "2024-01-03 00:00:00", "2024-01-06 12:00:00"
    )
    qe = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in qe and "date" in qe

    exp = (
        EventsAsSensorProvider(sf_dir)
        .read(spark, ["click"], "2024-01-03 00:00:00", "2024-01-06 12:00:00")
        .toPandas()
        .sort_values(["ts", "value"])
        .reset_index(drop=True)
    )
    gpd = got.toPandas().sort_values(["ts", "value"]).reset_index(drop=True)
    assert len(gpd) == len(exp)
    import numpy as np

    np.testing.assert_allclose(gpd["value"].fillna(-1), exp["value"].fillna(-1))
    # pruning actually happened: fewer input files than total partitions
    import os

    n_parts = len([d for d in os.listdir(root) if d.startswith("date=")])
    assert n_parts > 5
    from pyspark.sql import functions as F2

    scanned = got.select(F2.input_file_name()).distinct().count()
    assert 0 < scanned <= 4  # 3.5-day range -> at most 4 of the 30 partitions


def test_reference_shaped_crd_config_loads(spark, tmp_path):
    """The reference's Gordo-CRD config shape (YAML-in-string fields, tags
    alias, globals patching) loads and builds unchanged."""
    from gordo_spark.builder import build_machines
    from gordo_spark.config import load_yaml_config

    machines = load_yaml_config("/root/repo/examples/machines.yaml")
    assert [m.name for m in machines] == ["ct-23-0001", "ct-23-0002"]
    m1, m2 = machines
    assert m1.dataset["tag_list"] == ["click", "view"]
    assert m1.dataset["resolution"] == "1H"  # from string-valued globals
    assert m2.dataset["resolution"] == "2H"  # per-machine override wins
    assert m2.model["kind"] == "DiffBasedAnomalyDetector"
    results = build_machines(spark, machines)
    assert set(results) == {"ct-23-0001", "ct-23-0002"}
    th = results["ct-23-0002"].metadata["build-metadata"]["model"]["thresholds"]
    assert set(th["tags"]) == {"click", "purchase"}


def test_compact_sensor_lake_reduces_files_same_rows(spark, sf_dir, tmp_path):
    """Fragmented lake -> compacted copy: fewer files per date, identical
    rows, source untouched."""
    import os

    from gordo_spark.sources.lake import compact_sensor_lake
    from gordo_spark.sources.providers import EventsAsSensorProvider

    from pyspark.sql import functions as F

    long = EventsAsSensorProvider(sf_dir).read(spark, ["click", "view"])
    src = str(tmp_path / "frag")
    # fragment: 16 round-robin partitions each write a file into every date
    (
        long.withColumn("date", F.to_date("ts"))
        .repartition(16)
        .write.partitionBy("date")
        .parquet(src)
    )
    dst = str(tmp_path / "compact")
    compact_sensor_lake(spark, src, dst, files_per_date=1)

    def files_per_date(root):
        counts = []
        for d in os.listdir(root):
            if d.startswith("date="):
                counts.append(
                    len([f for f in os.listdir(os.path.join(root, d))
                         if f.endswith(".parquet")])
                )
        return counts

    assert max(files_per_date(src)) > 1
    assert max(files_per_date(dst)) == 1
    assert spark.read.parquet(dst).count() == spark.read.parquet(src).count()
    # incremental form: only the named dates are rewritten
    some_date = sorted(
        d.split("=")[1] for d in os.listdir(src) if d.startswith("date=")
    )[0]
    inc = str(tmp_path / "inc")
    compact_sensor_lake(spark, src, inc, files_per_date=1, dates=[some_date])
    assert [d for d in os.listdir(inc) if d.startswith("date=")] == [
        f"date={some_date}"
    ]


def test_rollup_sensor_lake_incremental_equals_full(spark, sf_dir, tmp_path):
    """Continuous aggregate: incremental maintenance (new dates only, with
    boundary-date redo) produces byte-identical results to a full rollup."""
    from pyspark.sql import functions as F

    from gordo_spark.operators.resample import resample_aggregate
    from gordo_spark.sources.lake import rollup_sensor_lake, write_sensor_lake
    from gordo_spark.sources.providers import EventsAsSensorProvider

    long = EventsAsSensorProvider(sf_dir).read(spark, ["click", "view"])
    cutoff = "2024-01-10 00:00:00"
    src = str(tmp_path / "lake")
    # day 1..9 land first; the rest arrives later (late/new data)
    write_sensor_lake(long.filter(F.col("ts") < cutoff), src)

    dst = str(tmp_path / "rollup")
    rollup_sensor_lake(spark, src, dst, resolution="1H")
    n_first = spark.read.parquet(dst).count()

    # new data arrives (append new dates into the lake), incremental re-run
    write_sensor_lake(long.filter(F.col("ts") >= cutoff), src, mode="append")
    rollup_sensor_lake(spark, src, dst, resolution="1H")

    got = (
        spark.read.parquet(dst)
        .select("tag", "ts", "value")
        .toPandas()
        .sort_values(["tag", "ts"])
        .reset_index(drop=True)
    )
    exp = (
        resample_aggregate(long, "1H", "mean")
        .toPandas()
        .sort_values(["tag", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) > n_first
    assert len(got) == len(exp)
    import numpy as np

    np.testing.assert_allclose(got["value"], exp["value"], rtol=1e-12)


def test_influx_provider_query_generation_and_read(spark):
    """S3 seam: uri parsing, per-tag InfluxQL, points -> long-frame
    assembly — driven through a fake client (no server in this env)."""
    from gordo_spark.sources.providers import InfluxDataProvider, provider_from_dict

    host, port, user, pw, db = InfluxDataProvider.parse_uri(
        "localhost:8086/root/secret/testdb"
    )
    assert (host, port, user, pw, db) == ("localhost", 8086, "root", "secret", "testdb")
    with pytest.raises(ValueError, match="malformed influx uri"):
        InfluxDataProvider.parse_uri("nope")

    class FakeClient:
        def __init__(self):
            self.queries = []

        def query(self, q):
            self.queries.append(q)
            tag = q.split("= '")[1].split("'")[0]
            return [
                {"time": "2024-01-01T00:00:00Z", "Value": 1.5},
                {"time": "2024-01-01T00:01:00Z", "Value": 2.5},
            ] if tag == "click" else []

    fake = FakeClient()
    prov = InfluxDataProvider(measurement="sensors", client=fake)
    df = prov.read(
        spark, ["click", "view"], "2024-01-01T00:00:00", "2024-01-02T00:00:00"
    )
    got = df.toPandas().sort_values("ts")
    assert got["value"].tolist() == [1.5, 2.5]
    assert set(got["tag"]) == {"click"}
    # range predicates pushed into InfluxQL (the scan-side pruning)
    assert 'SELECT "Value" FROM "sensors"' in fake.queries[0]
    assert "time >= '2024-01-01T00:00:00'" in fake.queries[0]
    assert "time < '2024-01-02T00:00:00'" in fake.queries[1]
    # registry round-trip
    p2 = provider_from_dict(
        {"type": "InfluxDataProvider", "measurement": "sensors",
         "uri": "h:1/u/p/d"}
    )
    assert p2.db_name == "d"


def test_from_dict_keys_parse_without_warnings():
    """ISO keys parse as an explicit ISO 8601 format and integer keys fall
    back to ints, neither through pandas' per-key dateutil guess (which
    warns)."""
    import warnings

    import pandas as pd

    iso = {"a": {"2019-01-01T01:00:00+00:00": 2.0, "2019-01-01T00:30:00+00:00": 1.0}}
    ints = {"a": {"10": 2.0, "2": 1.0}}
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got_iso, got_ints = dataframe_from_dict(iso), dataframe_from_dict(ints)
    pd.testing.assert_frame_equal(
        got_iso,
        pd.DataFrame({
            "ts": pd.to_datetime(["2019-01-01T00:30:00", "2019-01-01T01:00:00"]),
            "a": [1.0, 2.0],
        }),
    )
    pd.testing.assert_frame_equal(
        got_ints, pd.DataFrame({"ts": [2, 10], "a": [1.0, 2.0]})
    )
