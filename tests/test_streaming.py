"""Structured Streaming parity: streaming resample+align+score equals the
batch plan on the same data (availableNow file source over events)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gordo_spark.operators import inner_align, pivot_wide, resample_aggregate
from gordo_spark.sources.providers import EventsAsSensorProvider
from gordo_spark.streaming import score_stream, stream_resample_wide

TAGS = ["click", "view", "purchase"]


@pytest.fixture(scope="module")
def events_schema(spark, sf_dir):
    return EventsAsSensorProvider(sf_dir).read(spark, TAGS).schema


def _stream(spark, sf_dir, tmpdir, events_schema):
    # stage the long-form frame as parquet so readStream gets a typed source
    path = f"{tmpdir}/stream_src"
    EventsAsSensorProvider(sf_dir).read(spark, TAGS).write.mode("overwrite").parquet(path)
    return spark.readStream.schema(events_schema).parquet(path)


def test_stream_resample_matches_batch(spark, sf_dir, tmp_path, events_schema):
    stream = _stream(spark, sf_dir, tmp_path, events_schema)
    wide_stream = stream_resample_wide(stream, TAGS, resolution="1H", watermark="2H")
    q = (
        wide_stream.writeStream.format("memory")
        .queryName("wide_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("wide_stream_test")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # batch oracle: same resample + pivot + align
    long = EventsAsSensorProvider(sf_dir).read(spark, TAGS)
    res = resample_aggregate(long, "1H", "mean")
    exp = (
        inner_align(pivot_wide(res, TAGS), TAGS)
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # availableNow + watermark: the final (open) windows may be withheld in
    # append mode; all emitted rows must match the batch result exactly.
    assert len(got) >= len(exp) - 24  # at most the last day's windows open
    merged = got.merge(exp, on="ts", suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    for t in TAGS:
        np.testing.assert_allclose(merged[f"{t}_s"], merged[f"{t}_b"], rtol=1e-12)


def test_score_stream_end_to_end(spark, sf_dir, tmp_path, events_schema):
    stream = _stream(spark, sf_dir, tmp_path, events_schema)
    params = {
        "coef": {t: {"click": 0.5} for t in TAGS},
        "intercepts": {t: 1.0 for t in TAGS},
        "scaler_stats": {t: (0.0, 100.0) for t in TAGS},
        "thresholds": {t: 0.5 for t in TAGS},
        "total_threshold": 0.4,
    }
    scored = score_stream(stream, TAGS, params, resolution="1H", watermark="2H")
    q = (
        scored.writeStream.format("memory")
        .queryName("scored_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("scored_stream_test").toPandas()
    assert len(got) > 0
    # every row: the batch anomaly algebra over the model's outputs, in numpy
    out = 1.0 + 0.5 * got["model_input__click"].to_numpy()
    exp, unscaled, scaled = {}, [], []
    for t in TAGS:
        truth = got[f"model_input__{t}"].to_numpy()
        unscaled.append(np.abs(out - truth))
        scaled.append(np.abs((out - 0.0) / 100.0 - (truth - 0.0) / 100.0))
        exp[f"model_output__{t}"] = out
        exp[f"tag_anomaly_unscaled__{t}"] = unscaled[-1]
        exp[f"tag_anomaly_scaled__{t}"] = scaled[-1]
        # tag confidence divides the UNSCALED error by the threshold (batch parity)
        exp[f"anomaly_confidence__{t}"] = unscaled[-1] / 0.5
    exp["total_anomaly_unscaled"] = sum(e * e for e in unscaled) / len(TAGS)
    exp["total_anomaly_scaled"] = sum(e * e for e in scaled) / len(TAGS)
    exp["total_anomaly_confidence"] = exp["total_anomaly_scaled"] / 0.4
    for c, v in exp.items():
        np.testing.assert_allclose(got[c].to_numpy(), v, rtol=1e-12, atol=0, err_msg=c)
    assert ((got["end"] - got["start"]) == pd.Timedelta("1h")).all()


def test_stream_anomaly_select_zero_thresholds(spark):
    """A zero tag or total threshold (an exact-fit fold) gives the batch
    confidences, inf or NaN for 0/0, instead of failing the query."""
    import pandas as pd

    from gordo_spark.streaming.scoring import stream_anomaly_select

    wide = spark.createDataFrame(
        pd.DataFrame(
            {"ts": pd.date_range("2024-01-01", periods=3, freq="1h"), "a": [1.0, 2.0, 3.0]}
        )
    )
    # model output is the constant 2.0: errors 1, 0, 1
    out = stream_anomaly_select(
        wide, coef={"a": {"a": 0.0}}, intercepts={"a": 2.0}, scaler_stats={"a": (0.0, 1.0)},
        thresholds={"a": 0.0}, total_threshold=0.0, tags=["a"], resolution="1H",
    ).toPandas()
    for col in ("anomaly_confidence__a", "total_anomaly_confidence"):
        np.testing.assert_array_equal(out[col].to_numpy(), [np.inf, np.nan, np.inf])


def test_ewma_stream_matches_pandas_across_batches(spark, sf_dir, tmp_path, events_schema):
    """State must carry the recurrence across micro-batches: the streamed
    EWMA over two sequential files equals pandas ewm over the whole series."""
    import pandas as pd
    from gordo_spark.streaming.stateful import ewma_stream

    long = (
        EventsAsSensorProvider(sf_dir)
        .read(spark, TAGS)
        .filter(F.col("tag") == "click")
    )
    res = resample_aggregate(long, "1H", "mean")
    pdf = res.toPandas().sort_values("ts").reset_index(drop=True)
    # two files = two micro-batches with maxFilesPerTrigger=1, in ts order
    half = len(pdf) // 2
    src = f"{tmp_path}/ewma_src"
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(res.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        ewma_stream(stream, span=12)
        .writeStream.format("memory")
        .queryName("ewma_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("ewma_stream_test")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    exp = pdf["value"].ewm(span=12).mean()
    np.testing.assert_allclose(got["smooth_value"], exp, rtol=1e-9)


def test_watermark_drops_late_data(spark, tmp_path):
    """A record older than the watermark arriving in a later micro-batch
    must not reopen its (already emitted) window — the streaming analogue
    of the offline interpolation-limit late-data policy."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType(
        [
            StructField("tag", StringType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    src = f"{tmp_path}/late_src"
    first = pd.DataFrame(
        {
            "tag": "click",
            "ts": pd.date_range("2024-01-01", periods=11, freq="1h"),
            "value": [1.0] * 11,
        }
    )
    second = pd.DataFrame(
        {
            "tag": "click",
            "ts": pd.date_range("2024-01-02", periods=25, freq="1h"),
            "value": [1.0] * 25,
        }
    )
    late = pd.DataFrame(
        {"tag": ["click"], "ts": [pd.Timestamp("2024-01-01 00:30:00")], "value": [100.0]}
    )
    import time as _time

    # three files -> three micro-batches in modification-time order; the
    # watermark computed from `second` (and applied one batch later) is
    # active when the late record arrives
    spark.createDataFrame(first, schema).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(second, schema).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    wide = stream_resample_wide(stream, ["click"], resolution="1H", watermark="2H")
    q = (
        wide.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("late_test").toPandas()
    first = got[got.ts == pd.Timestamp("2024-01-01 00:00:00")]
    # exactly one emission for the first window, and the 100.0 late record
    # did not contaminate it
    assert len(first) == 1
    assert first["click"].iloc[0] == 1.0


def test_streamed_anomaly_scores_with_stateful_smoothing(spark, sf_dir, tmp_path, events_schema):
    """Full §2.10 composition: watermarked resample -> stateless scoring ->
    stateful multi-column EWMA smoothing of the anomaly metrics, matching
    the batch pandas ewm over the emitted rows."""
    import pandas as pd
    from gordo_spark.streaming.stateful import ewma_stream_multi

    stream = _stream(spark, sf_dir, tmp_path, events_schema)
    params = {
        "coef": {t: {"click": 0.5} for t in TAGS},
        "intercepts": {t: 1.0 for t in TAGS},
        "scaler_stats": {t: (0.0, 100.0) for t in TAGS},
    }
    # Spark disallows stateful ops after a streaming aggregation in ONE
    # query — deploy as two chained queries (scores -> sink -> smoother),
    # exactly the Kafka/Delta-between-stages topology a cluster would use
    scored = score_stream(stream, TAGS, params, resolution="1H", watermark="2H")
    mid = f"{tmp_path}/scored_sink"
    q1 = (
        scored.select(
            F.lit("machine-1").alias("machine"),
            F.col("start").alias("ts"),
            "total_anomaly_scaled",
            "tag_anomaly_scaled__view",
        )
        .writeStream.format("parquet")
        .option("path", mid)
        .option("checkpointLocation", f"{tmp_path}/ckpt1")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)

    scored_schema = spark.read.parquet(mid).schema
    smoothed = ewma_stream_multi(
        spark.readStream.schema(scored_schema).parquet(mid),
        ["total_anomaly_scaled", "tag_anomaly_scaled__view"],
        span=12,
    )
    q = (
        smoothed.writeStream.format("memory")
        .queryName("smooth_scores_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("smooth_scores_test")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # sf0.001 events are sparse: few 1H buckets carry all three tags, so
    # the aligned score stream is short — enough rows to verify the
    # recurrence, which is what this test pins
    assert len(got) >= 5
    for c in ["total_anomaly_scaled", "tag_anomaly_scaled__view"]:
        exp = got[c].ewm(span=12).mean()
        np.testing.assert_allclose(got[f"smooth_{c}"], exp, rtol=1e-9)


def test_stream_dedup_within_watermark_matches_batch_first_wins(
    spark, sf_dir, tmp_path
):
    """Streaming content-key dedup keeps exactly one row per duplicate
    cluster (batch analogue: distinct on the fingerprint)."""
    from gordo_spark.sources.io import read_table
    from gordo_spark.streaming.dedup import (
        dedup_ids_within_watermark,
        with_content_key,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # give every doc an event-time and inject exact duplicates arriving later
    base = docs.withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))
    dupes = docs.limit(20).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") + 60)
    )
    src = f"{tmp_path}/dedup_src"
    base.unionByName(dupes).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(base.schema).parquet(src)
    deduped = dedup_ids_within_watermark(
        with_content_key(stream), ["content_key"], watermark="10 minutes"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream_test").toPandas()
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert len(got) == n_distinct
    assert got.content_key.is_unique


def test_stream_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """session_window streaming sessions == batch gap-rule sessions
    (same keys, same event counts, same durations)."""
    from gordo_spark.operators.ranges import session_stats
    from gordo_spark.sources.io import read_table
    from gordo_spark.streaming.dedup import sessionize_stream

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    src = f"{tmp_path}/sess_src"
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        sessionize_stream(stream, ["user_id"], gap_seconds=3600)
        .writeStream.format("memory")
        .queryName("sess_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("sess_stream_test")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    exp = (
        session_stats(ev, ["user_id"], gap_seconds=3600)
        .toPandas()
        .sort_values(["user_id", "session_id"])
        .reset_index(drop=True)
    )
    # append mode withholds sessions the watermark hasn't closed: compare
    # on the emitted subset, which must agree exactly with batch
    assert len(got) >= len(exp) - ev.select("user_id").distinct().count()
    merged = got.merge(
        exp, left_on=["user_id", "n_events", "duration_s"],
        right_on=["user_id", "n_events", "duration_s"], how="left", indicator=True,
    )
    assert (merged["_merge"] == "both").all()


def test_stream_to_lake_lands_batch_readable_layout(spark, sf_dir, tmp_path):
    """Streamed ingest produces the same lake a batch write would: same
    rows, date-partitioned dirs, readable by SensorLakeProvider."""
    import os

    from gordo_spark.sources.lake import stream_to_lake
    from gordo_spark.sources.providers import EventsAsSensorProvider

    long = EventsAsSensorProvider(sf_dir).read(spark, ["click", "view"])
    src = f"{tmp_path}/raw"
    long.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(long.schema).parquet(src)
    q = stream_to_lake(
        stream,
        f"{tmp_path}/lake",
        f"{tmp_path}/ckpt",
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    assert any(
        d.startswith("date=") for d in os.listdir(f"{tmp_path}/lake")
    )
    landed = spark.read.parquet(f"{tmp_path}/lake")
    assert landed.count() == long.count()
    from gordo_spark.sources.providers import provider_from_dict

    prov = provider_from_dict(
        {"type": "SensorLakeProvider", "path": f"{tmp_path}/lake"}
    )
    assert prov.read(spark, ["click"]).count() == long.filter(
        "tag = 'click'"
    ).count()


def test_stream_equals_batch_with_late_rows(spark, tmp_path):
    """Stream==batch contract under late data: a late row INSIDE the
    watermark is merged into its (not yet emitted) window; a row beyond the
    watermark is dropped; every closed window then equals the batch
    resample over exactly the kept rows — the streaming analogue of the
    offline interpolation-limit policy (reference J2 semantics,
    tests/gordo/workflow/test_config_elements.py:150-151)."""
    import time as _time

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    from gordo_spark.operators.align import inner_align, pivot_wide
    from gordo_spark.operators.resample import resample_aggregate

    schema = StructType(
        [
            StructField("tag", StringType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    src = f"{tmp_path}/late_eq_src"
    on_time = pd.DataFrame(
        {
            "tag": "click",
            "ts": pd.date_range("2024-01-01", periods=11, freq="1h"),
            "value": [1.0] * 11,
        }
    )
    # advances event time so the watermark (applied one batch later) is
    # 10:00 - 2H = 08:00 when the late rows arrive
    advance = pd.DataFrame(
        {
            "tag": "click",
            "ts": pd.date_range("2024-01-01 11:00:00", periods=2, freq="1h"),
            "value": [1.0, 1.0],
        }
    )
    # batch 3 (watermark 08:00): hour-9 row is INSIDE the watermark (its
    # window is still open -> merged); the hour-0 row is beyond it -> dropped
    late_kept = pd.DataFrame(
        {"tag": ["click"], "ts": [pd.Timestamp("2024-01-01 09:30:00")], "value": [3.0]}
    )
    late_dropped = pd.DataFrame(
        {"tag": ["click"], "ts": [pd.Timestamp("2024-01-01 00:30:00")], "value": [100.0]}
    )
    closer = pd.DataFrame(
        {
            "tag": "click",
            "ts": pd.date_range("2024-01-02 06:00:00", periods=2, freq="1h"),
            "value": [1.0, 1.0],
        }
    )
    for i, frame in enumerate(
        (on_time, advance, pd.concat([late_kept, late_dropped]), closer)
    ):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(frame, schema).coalesce(1).write.mode(mode).parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    wide = stream_resample_wide(stream, ["click"], resolution="1H", watermark="2H")
    q = (
        wide.writeStream.format("memory")
        .queryName("late_eq_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("late_eq_test").toPandas().sort_values("ts").reset_index(drop=True)

    kept = spark.createDataFrame(
        pd.concat([on_time, advance, late_kept, closer]), schema
    )
    exp_wide = inner_align(pivot_wide(resample_aggregate(kept, "1H", "mean"), ["click"]), ["click"])
    # only compare windows guaranteed closed at the last processed batch
    cutoff = pd.Timestamp("2024-01-01 10:00:00")
    exp = (
        exp_wide.toPandas()
        .query("ts < @cutoff")
        .sort_values("ts")
        .reset_index(drop=True)
    )
    got = got[got.ts < cutoff].reset_index(drop=True)
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp)
    # the merged window reflects BOTH the on-time and the late-kept row
    assert got.loc[got.ts == pd.Timestamp("2024-01-01 09:00:00"), "click"].iloc[0] == 2.0
    # the beyond-watermark row never contaminated its window
    assert got.loc[got.ts == pd.Timestamp("2024-01-01 00:00:00"), "click"].iloc[0] == 1.0


def test_stream_text_curation_matches_batch(spark, tmp_path):
    """quality_score + pii_scrub are stateless column algebra, so the SAME
    operator calls run unchanged on a file stream — the streaming ingest
    path of the corpus pipeline. Stream output must equal the batch run
    row-for-row."""
    import pandas as pd

    from gordo_spark.operators.text import pii_scrub

    src = str(tmp_path / "docs_in")
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                f"the data row {i} mail u{i}@ex.example.com and filler words here"
                for i in range(40)
            ],
        }
    )
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    curated = pii_scrub(stream)
    q = (
        curated.writeStream.format("memory")
        .queryName("text_curation_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("text_curation_stream")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = (
        pii_scrub(spark.read.parquet(src))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert (got["n_email"] == 1).all()
    assert got["text"].str.contains("<EMAIL>").all()


def test_stream_gopher_gate_matches_batch(spark, tmp_path):
    """gopher_rules is row-local column algebra — the ingest-time quality
    gate runs UNCHANGED on a file stream; stream verdicts equal batch."""
    import pandas as pd

    from gordo_spark.operators.text import gopher_rules

    src = str(tmp_path / "gopher_in")
    texts = [
        ("the data " * 30).strip()
        if i % 3 == 0
        else (("#### " * 40).strip() if i % 3 == 1 else "short the a")
        for i in range(30)
    ]
    pdf = pd.DataFrame({"doc_id": range(30), "text": texts})
    spark.createDataFrame(pdf).repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        gopher_rules(stream, min_words=10, min_stopwords=1)
        .writeStream.format("memory")
        .queryName("gopher_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("gopher_stream").toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    exp = (
        gopher_rules(spark.read.parquet(src), min_words=10, min_stopwords=1)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert got["keep"].any() and not got["keep"].all()


def test_stream_source_quality_matches_batch(spark, tmp_path):
    """Windowed per-source quality metrics: the stream's closed windows
    equal the batch aggregation over the same rows."""
    import pandas as pd

    from gordo_spark.streaming.quality import stream_source_quality

    src = str(tmp_path / "squality_in")
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "ts": [base + pd.Timedelta(minutes=7 * i) for i in range(40)],
            "source": ["web" if i % 2 == 0 else "wiki" for i in range(40)],
            "text": [
                ("the data " * 20).strip() if i % 3 else ("### " * 30).strip()
                for i in range(40)
            ],
        }
    )
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_source_quality(stream, window="1 hour", min_words=10, min_stopwords=1)
        .writeStream.format("memory")
        .queryName("squality_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("squality_stream")
        .selectExpr("win.start AS ws", "source", "n_docs", "mean_quality", "gopher_pass_rate")
        .toPandas().sort_values(["ws", "source"]).reset_index(drop=True)
    )
    exp = (
        stream_source_quality(
            spark.read.parquet(src), window="1 hour", min_words=10, min_stopwords=1
        )
        .selectExpr("win.start AS ws", "source", "n_docs", "mean_quality", "gopher_pass_rate")
        .toPandas().sort_values(["ws", "source"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert (got["gopher_pass_rate"] < 1.0).any()  # the ### docs fail the panel


def test_stream_neardup_dedup_matches_batch(spark, tmp_path):
    """Near-dup ingest dedup (MinHash-LSH band buckets as state key,
    per-window first-wins): stream verdicts over closed windows equal
    the batch run of the SAME operators, exact copies are dropped inside
    their window but kept across windows (window-scoped state), and
    every dropped doc is an LSH candidate pair with an earlier doc."""
    import time as _time

    import pandas as pd
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    from gordo_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
    from gordo_spark.streaming.dedup import (
        minhash_band_keys,
        neardup_bucket_membership,
        neardup_survivors,
        stream_neardup_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different words about spark shuffles and parquet footers here"
    third = "sensor telemetry resampling with watermarks keeps late data policies honest"
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        # window [00:00, 01:00)
        (1, base, t0 + pd.Timedelta(minutes=5)),
        (2, base, t0 + pd.Timedelta(minutes=10)),          # exact dup -> dropped
        (3, other, t0 + pd.Timedelta(minutes=15)),
        (4, base.replace("dog", "cat"), t0 + pd.Timedelta(minutes=20)),  # near-dup
        # window [01:00, 02:00)
        (10, base, t0 + pd.Timedelta(minutes=65)),         # new window -> kept
        (11, third, t0 + pd.Timedelta(minutes=70)),
        (12, third, t0 + pd.Timedelta(minutes=75)),        # exact dup -> dropped
    ]
    closer = [(99, "watermark closer row far in the future of every window", t0 + pd.Timedelta(hours=4))]
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    def _py(chunk):
        return [(i, t, ts.to_pydatetime()) for i, t, ts in chunk]

    src = str(tmp_path / "neardup_src")
    for i, chunk in enumerate((_py(rows[:4]), _py(rows[4:]), _py(closer))):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(mode).parquet(src)
        _time.sleep(1.1)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = str(tmp_path / "neardup_out")
    ckpt = str(tmp_path / "neardup_ckpt")
    q = stream_neardup_dedup(
        stream, out, ckpt, window="1 hour", watermark="30 minutes"
    )
    q.awaitTermination(120)
    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["window_start", "doc_id"])
        .reset_index(drop=True)
    )

    batch = spark.createDataFrame(_py(rows + closer), schema)
    exp_all = neardup_survivors(
        neardup_bucket_membership(minhash_band_keys(batch), "1 hour")
    ).toPandas()
    # the stream only emits windows its final watermark closed
    exp = (
        exp_all[exp_all.window_start.isin(got.window_start.unique())]
        .sort_values(["window_start", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)

    verdict = dict(zip(got.doc_id, got.kept))
    assert verdict[1] is True or verdict[1] == True  # noqa: E712
    assert not verdict[2]          # exact dup inside its window
    assert verdict[3]
    assert verdict[10]             # same text, later window: state is window-scoped
    assert not verdict[12]
    assert {1, 2, 3, 4}.issubset(set(got.doc_id)) and {10, 11, 12}.issubset(set(got.doc_id))

    # every dropped doc must be an LSH candidate pair with an EARLIER doc
    # of its own window (same hash family as the batch operators)
    dropped = got[~got.kept]
    assert len(dropped) >= 2
    for ws, grp in got.groupby("window_start"):
        w_docs = batch.filter(
            (F.col("ts") >= pd.Timestamp(ws))
            & (F.col("ts") < pd.Timestamp(ws) + pd.Timedelta(hours=1))
        )
        pairs = lsh_candidate_pairs(minhash_signatures(w_docs)).toPandas()
        for d in grp[~grp.kept].doc_id:
            assert ((pairs.id_b == d) & (pairs.id_a < d)).any(), (ws, d)


def test_stream_count_min_matches_batch(spark, tmp_path):
    """Windowed Count-Min sketch: each closed window's counter table
    equals the batch sketch over the same rows (deterministic hash
    family), and state per window is bounded at depth*width cells."""
    import time as _time

    import pandas as pd

    from gordo_spark.streaming.sketches import stream_count_min

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    def _rows(h, words):
        return pd.DataFrame(
            {
                "ts": [t0 + pd.Timedelta(hours=h, minutes=i) for i in range(len(words))],
                "w": words,
            }
        )

    chunk1 = _rows(0, ["the", "data", "the", "spark", "the", "row"] * 5)
    chunk2 = _rows(1, ["join", "the", "scan", "scan"] * 4)
    closer = _rows(5, ["closer"])
    src = str(tmp_path / "cms_src")
    for i, c in enumerate((chunk1, chunk2, closer)):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(c).coalesce(1).write.mode(mode).parquet(src)
        _time.sleep(1.1)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream_count_min(stream, "w", window="1 hour", watermark="30 minutes", width=64, depth=4)
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("cms_stream")
        .toPandas()
        .sort_values(["window_start", "row", "bucket"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    batch = spark.createDataFrame(pd.concat([chunk1, chunk2, closer]))
    exp_all = stream_count_min(batch, "w", window="1 hour", width=64, depth=4).toPandas()
    exp = (
        exp_all[exp_all.window_start.isin(got.window_start.unique())]
        .sort_values(["window_start", "row", "bucket"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # bounded state: each window holds at most depth*width cells
    assert got.groupby("window_start").size().max() <= 4 * 64
    # sanity: 'the' dominates hour 0 — its min-cell count >= its true count
    assert got.n.max() >= 15


def test_stream_to_lake_restart_resumes_without_duplicates(spark, tmp_path):
    """Restart chaos: stop the ingest stream, land more files, restart
    with the SAME checkpoint — already-committed batches are not
    reprocessed and every source row appears in the lake exactly once."""
    import time as _time

    import pandas as pd

    from gordo_spark.sources.lake import stream_to_lake

    src = str(tmp_path / "restart_src")
    lake = str(tmp_path / "restart_lake")
    ckpt = str(tmp_path / "restart_ckpt")

    def _chunk(day, vals):
        return pd.DataFrame(
            {
                "tag": ["t1"] * len(vals),
                "ts": pd.to_datetime([f"2024-01-0{day} 0{i}:00:00" for i in range(len(vals))]),
                "value": vals,
            }
        )

    spark.createDataFrame(_chunk(1, [1.0, 2.0, 3.0])).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    schema = spark.read.parquet(src).schema

    q = stream_to_lake(
        spark.readStream.schema(schema).parquet(src), lake, ckpt,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    first = spark.read.parquet(lake).count()
    assert first == 3

    _time.sleep(1.1)
    spark.createDataFrame(_chunk(2, [4.0, 5.0])).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_to_lake(
        spark.readStream.schema(schema).parquet(src), lake, ckpt,
        trigger={"availableNow": True},
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(lake).select("tag", "ts", "value").toPandas()
    assert len(got) == 5                       # no reprocessing duplicates
    assert sorted(got.value) == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert got.duplicated(["tag", "ts"]).sum() == 0


def test_stream_bloom_gate_matches_batch_decontaminate(spark, tmp_path):
    """The Bloom decontamination screen runs row-locally on a file
    stream; per-doc flagged fractions equal operators/dedup.
    decontaminate_bloom on the same corpus, planted leak included."""
    import pandas as pd

    from gordo_spark.operators.dedup import decontaminate_bloom
    from gordo_spark.streaming.quality import bloom_bits_py, stream_bloom_gate

    bench = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [
                    "the held out benchmark question about spark shuffles",
                    "another eval item concerning parquet footers entirely",
                ],
            }
        )
    )
    corpus = pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "text": [
                # planted leak: contains a full benchmark span
                "noise words then the held out benchmark question about spark shuffles end",
                "completely unrelated clean document with its own words here",
                "parquet footers entirely innocuous mention only partial overlap",
            ],
        }
    )
    src = str(tmp_path / "bloom_src")
    spark.createDataFrame(corpus).coalesce(1).write.parquet(src)

    bits = bloom_bits_py(bench, bits=1 << 16)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_bloom_gate(stream, bits, bits=1 << 16)
        .writeStream.format("memory")
        .queryName("bloom_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("bloom_stream")
        .select("doc_id", "n_grams", "n_flagged", "flagged_frac")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    exp = (
        decontaminate_bloom(spark.createDataFrame(corpus), bench, bits=1 << 16)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    by_id = dict(zip(got.doc_id, got.flagged_frac))
    assert by_id[10] > 0.3          # the planted leak is flagged
    assert by_id[11] == 0.0         # clean doc untouched


def test_stream_constraint_counts_matches_batch(spark, tmp_path):
    """Windowed constraint-violation counts: closed stream windows equal
    the batch aggregation, and the planted bad rows are counted."""
    import pandas as pd

    from gordo_spark.operators.quality_checks import stream_constraint_counts

    t0 = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "ts": [t0 + pd.Timedelta(minutes=10 * i) for i in range(30)],
            "value": [None if i % 10 == 0 else float(i) for i in range(30)],
            "kind": ["good" if i % 7 else "BAD" for i in range(30)],
        }
    )
    src = str(tmp_path / "constraints_src")
    spark.createDataFrame(pdf).repartition(3).write.parquet(src)
    checks = [
        {"check": "not_null", "col": "value"},
        {"check": "in_set", "col": "kind", "values": ["good"]},
        {"check": "expression", "name": "v<25", "expr": "value < 25 OR value IS NULL"},
    ]
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_constraint_counts(stream, checks, window="1 hour")
        .writeStream.format("memory")
        .queryName("constraints_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("constraints_stream")
        .toPandas().sort_values("window_start").reset_index(drop=True)
    )
    exp = (
        stream_constraint_counts(spark.read.parquet(src), checks, window="1 hour")
        .toPandas().sort_values("window_start").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert got["not_null(value)"].sum() == 3
    assert got["in_set(kind)"].sum() == 5       # i in {0,7,14,21,28}
    assert got["v<25"].sum() == 5               # values 25..29


def test_holt_stream_matches_batch_across_batches(spark, sf_dir, tmp_path, events_schema):
    """Streaming Holt state (l, b) must carry across micro-batches: the
    streamed level/trend/forecast over two sequential files equals the
    batch operator over the whole series."""
    import pandas as pd
    from gordo_spark.operators.smoothing import holt
    from gordo_spark.streaming.stateful import holt_stream

    long = (
        EventsAsSensorProvider(sf_dir)
        .read(spark, TAGS)
        .filter(F.col("tag") == "click")
    )
    res = resample_aggregate(long, "1H", "mean")
    pdf = res.toPandas().sort_values("ts").reset_index(drop=True)
    half = len(pdf) // 2
    src = f"{tmp_path}/holt_src"
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(res.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        holt_stream(stream, alpha=0.3, beta=0.2)
        .writeStream.format("memory")
        .queryName("holt_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("holt_stream_test")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    exp = (
        holt(spark.createDataFrame(pdf), "value", alpha=0.3, beta=0.2, machine_col="tag")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(got["level"], exp["level"], rtol=1e-9)
    np.testing.assert_allclose(got["trend"], exp["trend"], rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(got["forecast"], exp["forecast"], rtol=1e-9)


def test_transitions_stream_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """Per-user last-event state must carry across micro-batches: the
    streamed (prev, next) pair counts over two sequential files equal
    the batch event_transitions over the whole table."""
    import pandas as pd
    from gordo_spark.operators.ranges import event_transitions
    from gordo_spark.streaming.stateful import transitions_stream

    from gordo_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    half = len(pdf) // 2
    src = f"{tmp_path}/trans_src"
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        transitions_stream(stream)
        .writeStream.format("memory")
        .queryName("transitions_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("transitions_stream_test")
        .groupBy("prev_type", "next_type")
        .count()
        .toPandas()
        .set_index(["prev_type", "next_type"])["count"]
        .sort_index()
    )
    want = (
        event_transitions(ev)
        .toPandas()
        .set_index(["prev_type", "next_type"])["n"]
        .sort_index()
    )
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_counter_rate_stream_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """Per-key (last_t, last_v) state must carry across micro-batches:
    summing the streamed per-sample increments per (tag, bucket) equals
    the batch counter_rate over the whole series — including the delta
    whose two samples arrive in different micro-batches."""
    import pandas as pd
    from gordo_spark.operators.tsa import counter_rate
    from gordo_spark.streaming.stateful import counter_rate_stream

    long = EventsAsSensorProvider(sf_dir).read(spark, TAGS)
    pdf = long.toPandas().sort_values(["tag", "ts"]).reset_index(drop=True)
    half = len(pdf) // 2
    src = f"{tmp_path}/cr_src"
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(long.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        counter_rate_stream(stream, 21600)
        .writeStream.format("memory")
        .queryName("cr_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("cr_stream_test")
        .groupBy("tag", "bucket_ts")
        .agg(
            F.round(F.sum("inc"), 6).alias("increase"),
            F.sum(F.col("is_reset").cast("long")).alias("n_resets"),
        )
        .toPandas()
        .sort_values(["tag", "bucket_ts"])
        .reset_index(drop=True)
    )
    exp = (
        counter_rate(long, 21600)
        .select("tag", "bucket_ts", "increase", "n_resets")
        .toPandas()
        .sort_values(["tag", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["increase"], exp["increase"], rtol=1e-9)
    assert (got["n_resets"].values == exp["n_resets"].values).all()


def test_ohlc_stream_matches_batch(spark, sf_dir, tmp_path):
    """Closed OHLC windows equal the batch resample_ohlc candles
    bit-for-bit (same lexicographic struct min/max tie-break)."""
    import time as _time

    import pandas as pd
    from gordo_spark.operators.downsample import resample_ohlc
    from gordo_spark.streaming.scoring import ohlc_stream

    long = EventsAsSensorProvider(sf_dir).read(spark, TAGS)
    pdf = long.toPandas().sort_values("ts").reset_index(drop=True)
    half = len(pdf) // 2
    # closer row far in the future so every real window passes the watermark
    closer = pd.DataFrame(
        {
            "tag": ["click"],
            "ts": [pdf["ts"].max() + pd.Timedelta(days=30)],
            "value": [0.0],
        }
    )
    src = f"{tmp_path}/ohlc_src"
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(closer).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(long.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        ohlc_stream(stream, 86400, watermark="1H")
        .writeStream.format("memory")
        .queryName("ohlc_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("ohlc_stream_test")
        .toPandas()
        .sort_values(["tag", "bucket_ts"])
        .reset_index(drop=True)
    )
    exp = (
        resample_ohlc(long, 86400)
        .toPandas()
        .sort_values(["tag", "bucket_ts"])
        .reset_index(drop=True)
    )
    # every batch candle except (possibly) the last open window per tag
    # must appear in the stream output, value-identical
    merged = got.merge(exp, on=["tag", "bucket_ts"], suffixes=("_s", "_b"))
    assert len(merged) >= len(exp) - len(TAGS)
    for c in ("open", "high", "low", "close", "n"):
        np.testing.assert_allclose(merged[f"{c}_s"], merged[f"{c}_b"], rtol=0)


def test_stream_stream_conversion_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream event-time join: the streamed click->purchase
    pairs (1h bound) equal the identical join on the static frame —
    including pairs whose two sides arrive in different micro-batches."""
    import pandas as pd
    from gordo_spark.sources.io import read_table
    from gordo_spark.streaming.scoring import stream_conversion_join

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    half = len(pdf) // 2
    src = f"{tmp_path}/ssj_src"
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_conversion_join(stream, "click", "purchase", within="1 hour")
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("ssj_test")
        .toPandas()
        .sort_values(["user_id", "touch_ts", "conv_ts"])
        .reset_index(drop=True)
    )
    exp = (
        stream_conversion_join(ev, "click", "purchase", within="1 hour")
        .toPandas()
        .sort_values(["user_id", "touch_ts", "conv_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(exp) > 0
    assert (got["lag_s"].values == exp["lag_s"].values).all()
    assert (got["user_id"].values == exp["user_id"].values).all()


def test_stream_ab_counts_matches_batch(spark, tmp_path):
    """Windowed A/B monitor: closed stream windows equal the batch
    aggregation (same md5 assignment, HLL unit count merge-commutative)."""
    import pandas as pd

    from gordo_spark.streaming.quality import stream_ab_counts

    t0 = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "ts": [t0 + pd.Timedelta(minutes=7 * i) for i in range(60)],
            "user_id": [i % 17 for i in range(60)],
            "converted": [i % 5 == 0 for i in range(60)],
        }
    )
    src = str(tmp_path / "ab_src")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_ab_counts(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("ab_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("ab_stream")
        .toPandas()
        .sort_values(["window_start", "variant"])
        .reset_index(drop=True)
    )
    exp = (
        stream_ab_counts(spark.read.parquet(src), window="1 hour")
        .toPandas()
        .sort_values(["window_start", "variant"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert set(got["variant"]) == {0, 1}
    assert got["n_success"].sum() == 12


def test_stream_psi_monitor_matches_batch_and_flags_shift(spark, tmp_path):
    """Windowed PSI vs a frozen reference: closed stream windows equal
    the batch aggregation, an in-distribution window scores ~0 and a
    shifted window scores high."""
    import pandas as pd

    from gordo_spark.streaming.quality import psi_reference, stream_psi_monitor

    t0 = pd.Timestamp("2024-01-01")
    ref_pdf = pd.DataFrame(
        {"tag": ["a"] * 100, "value": [float(i % 20) for i in range(100)]}
    )
    reference = psi_reference(spark.createDataFrame(ref_pdf))
    # hour 0: same distribution; hour 1: +100 level shift
    live = pd.DataFrame(
        {
            "ts": [t0 + pd.Timedelta(minutes=i) for i in range(50)]
            + [t0 + pd.Timedelta(hours=1, minutes=i) for i in range(50)],
            "tag": ["a"] * 100,
            "value": [float(i % 20) for i in range(50)]
            + [float(i % 20 + 100) for i in range(50)],
        }
    )
    src = str(tmp_path / "psi_src")
    spark.createDataFrame(live).repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_psi_monitor(stream, reference, window="1 hour")
        .writeStream.format("memory")
        .queryName("psi_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("psi_stream")
        .toPandas().sort_values("window_start").reset_index(drop=True)
    )
    exp = (
        stream_psi_monitor(spark.read.parquet(src), reference, window="1 hour")
        .toPandas().sort_values("window_start").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert got.loc[0, "psi"] < 0.05           # in-distribution hour
    assert got.loc[1, "psi"] > 1.0            # everything lands in the edge bin


def test_stream_interval_enrich_matches_batch(spark, sf_dir, tmp_path):
    """interval_join runs unchanged on a STREAM left side (stream-static
    equi-join + row-local range filter — no stateful operator needed):
    enriching streaming view events with each user's static purchase
    window equals the batch result."""
    from gordo_spark.operators.asof import interval_join
    from gordo_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    windows = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
        .filter(F.col("start") < F.col("end"))
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    path = f"{tmp_path}/iv_src"
    views.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(views.schema).parquet(path)
    q = (
        interval_join(stream, windows, ["user_id"], bucket_seconds=86_400)
        .select("user_id", "event_id", "ts", "start", "end")
        .writeStream.format("memory")
        .queryName("iv_enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = ["user_id", "event_id", "start"]
    got = spark.table("iv_enrich_test").toPandas().sort_values(key).reset_index(drop=True)
    exp = (
        interval_join(views, windows, ["user_id"], bucket_seconds=86_400)
        .select("user_id", "event_id", "ts", "start", "end")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(exp)
    assert len(got) > 0


def test_stream_holt_winters_matches_batch(spark, sf_dir, tmp_path):
    """holt_winters_stream over an availableNow file stream equals the
    batch operator row-for-row (warmup NULLs, state evolution,
    seasonal/forecast columns)."""
    import pandas as pd

    from gordo_spark.operators.smoothing import holt_winters
    from gordo_spark.streaming.stateful import holt_winters_stream

    res = resample_aggregate(
        EventsAsSensorProvider(sf_dir).read(spark, TAGS), "1H", "mean"
    ).withColumn("value", F.round("value", 6))
    path = f"{tmp_path}/hw_src"
    res.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(res.schema).parquet(path)
    q = (
        holt_winters_stream(stream, period=24, alpha=0.2, beta=0.1, gamma=0.3)
        .writeStream.format("memory")
        .queryName("hw_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = ["tag", "ts"]
    got = spark.table("hw_stream_test").toPandas().sort_values(key).reset_index(drop=True)
    exp = (
        holt_winters(res, period=24, alpha=0.2, beta=0.1, gamma=0.3,
                     machine_col="tag")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    for c in ("level", "trend", "seasonal", "forecast"):
        a = got[c].to_numpy(dtype=float)
        b = exp[c].to_numpy(dtype=float)
        assert (pd.isna(a) == pd.isna(b)).all()
        mask = ~pd.isna(a)
        assert np.allclose(a[mask], b[mask], rtol=0, atol=1e-9)


def test_stream_quantile_cells_matches_batch_and_estimates(spark, sf_dir, tmp_path):
    """stream_quantile_cells over an availableNow file stream equals the
    same operator on the batch frame; the per-window quantile readout
    stays within a bin width of the exact per-window percentile."""
    from gordo_spark.sources.io import read_table
    from gordo_spark.streaming.sketches import (
        quantiles_from_cells,
        stream_quantile_cells,
    )

    ev = read_table(spark, sf_dir, "events").select("ts", "value")
    lo, hi = 0.0, 200.0
    path = f"{tmp_path}/qcells_src"
    ev.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    q = (
        stream_quantile_cells(stream, "value", lo, hi, window="1 day")
        .writeStream.format("memory")
        .queryName("qcells_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("qcells_test")
    exp = stream_quantile_cells(ev, "value", lo, hi, window="1 day")
    key = ["window_start", "bin"]
    g = got.toPandas().sort_values(key).reset_index(drop=True)
    x = exp.toPandas().sort_values(key).reset_index(drop=True)
    assert g[key + ["n"]].equals(x[key + ["n"]])
    # readout vs the exact RANK-based per-window p50 (the sketch's own
    # rank = ceil(q*n) convention — interpolating `percentile` differs
    # by up to an order-stat gap on small windows, unrelated to the
    # sketch's bin-width error bound)
    import math

    est = quantiles_from_cells(got, lo, hi, qs=(0.5,)).toPandas()
    pdf = (
        ev.select(F.window("ts", "1 day").alias("w"), "value")
        .select(F.col("w.start").alias("window_start"), "value")
        .toPandas()
    )
    exact = (
        pdf.groupby("window_start")["value"]
        .apply(lambda v: sorted(v)[max(math.ceil(0.5 * len(v)) - 1, 0)])
        .rename("p50")
        .reset_index()
    )
    m = est.merge(exact, on="window_start")
    assert len(m) == len(exact) > 0
    bin_w = (hi - lo) / 256
    assert ((m["estimate"] - m["p50"]).abs() <= bin_w * 1.5).all()


def test_stream_control_rules_match_batch(spark, sf_dir, tmp_path, events_schema):
    """Western-Electric rules: the stateful stream with the batch stats
    as its fixed reference must emit exactly the batch decisions."""
    from gordo_spark.operators.tsa import control_rules
    from gordo_spark.streaming.stateful import control_rules_stream

    long = EventsAsSensorProvider(sf_dir).read(spark, TAGS)
    res = resample_aggregate(long, "1H", "mean")
    batch = control_rules(res).toPandas()
    # the batch operator's internal stats (6dp-rounded, its convention)
    stats = (
        res.groupBy("tag")
        .agg(
            F.round(F.avg("value"), 6).alias("mu"),
            F.round(F.stddev_pop("value"), 6).alias("sd"),
        )
        .collect()
    )
    ref = {r["tag"]: (r["mu"], r["sd"]) for r in stats}
    path = f"{tmp_path}/cr_src"
    res.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(res.schema).parquet(path)
    q = (
        control_rules_stream(stream, ref)
        .writeStream.format("memory")
        .queryName("cr_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("cr_stream_test").toPandas()
    cols = ["tag", "ts"]
    b = batch.sort_values(cols).reset_index(drop=True)
    g = got.sort_values(cols).reset_index(drop=True)
    assert len(b) == len(g)
    for c in ["z", "r1_beyond_3s", "r2_2of3_2s", "r3_4of5_1s", "r4_8_run", "any_signal"]:
        bb, gg = b[c], g[c]
        if c == "z":
            import numpy as np

            assert np.allclose(
                bb.fillna(-9e9).astype(float), gg.fillna(-9e9).astype(float),
                atol=1e-12,
            )
        else:
            assert (bb.astype(bool) == gg.astype(bool)).all(), c


def test_kalman_stream_matches_batch_across_batches(spark, sf_dir, tmp_path, events_schema):
    """Streaming Kalman state (x, P) must carry across micro-batches:
    the streamed level/gain/p over two sequential files equals the
    batch operator over the whole series."""
    import pandas as pd
    from gordo_spark.operators.smoothing import kalman_level
    from gordo_spark.streaming.stateful import kalman_stream

    long = (
        EventsAsSensorProvider(sf_dir)
        .read(spark, TAGS)
        .filter(F.col("tag") == "click")
    )
    res = resample_aggregate(long, "1H", "mean")
    pdf = res.toPandas().sort_values("ts").reset_index(drop=True)
    half = len(pdf) // 2
    src = f"{tmp_path}/kalman_src"
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(res.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        kalman_stream(stream, q=0.05, r=2.0)
        .writeStream.format("memory")
        .queryName("kalman_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("kalman_stream_test")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    exp = (
        kalman_level(
            spark.createDataFrame(pdf), "value", q=0.05, r=2.0, machine_col="tag"
        )
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(got["level"], exp["level"], rtol=1e-9)
    np.testing.assert_allclose(got["gain"], exp["gain"], rtol=1e-9)
    np.testing.assert_allclose(got["p"], exp["p"], rtol=1e-9)


def test_fleet_stream_matches_batch_at_width_200(spark, sf_dir, tmp_path):
    """FLEET-WIDTH streaming (round 9): 200 machine configs score off ONE
    shared watermarked resample (state O(1) in fleet width) + the batch
    path's broadcast spec table, then a per-(machine, tag) stateful
    regularize+ffill — and the closed-stream output is BIT-EQUAL to the
    batch fleet_long_frame at the same width (the fleet_fill parity
    discipline). Two chained queries (resample->sink->fill), the
    stateful-after-aggregation topology used throughout this file.
    mean_exact aggregation makes the parity exact, not approximate."""
    from itertools import combinations

    from gordo_spark.plans import TimeSeriesDataset, fleet_long_frame
    from gordo_spark.streaming.scoring import (
        fleet_fill_stream,
        fleet_resample_clip_stream,
    )

    types = ["click", "view", "purchase", "signup", "error"]
    combos = [list(c) for c in combinations(types, 3)]
    fleet = {}
    for i in range(200):
        d0 = 1 + (i // len(combos)) % 20
        fleet[f"m{i:03d}"] = TimeSeriesDataset(
            tag_list=combos[i % len(combos)],
            train_start_date=f"2024-01-{d0:02d} 00:00:00",
            train_end_date=f"2024-01-{d0 + 8:02d} 00:00:00",
            resolution="1H",
            aggregation_methods="mean_exact",
            interpolation_method="ffill",
            interpolation_limit="6H",
            data_provider={"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
        )

    batch = fleet_long_frame(spark, fleet)
    exp = sorted(
        (r["machine"], r["tag"], r["ts"], r["value"]) for r in batch.collect()
    )

    # stage the full long frame (all 5 tags) as the stream source
    src = f"{tmp_path}/fleet_src"
    long = EventsAsSensorProvider(sf_dir).read(spark, types)
    long.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(long.schema).parquet(src)

    mid = f"{tmp_path}/fleet_resampled"
    q1 = (
        fleet_resample_clip_stream(stream, fleet, watermark="48H")
        .writeStream.format("parquet")
        .option("path", mid)
        .option("checkpointLocation", f"{tmp_path}/fleet_ckpt1")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(180)

    mid_schema = spark.read.parquet(mid).schema
    filled = fleet_fill_stream(
        spark.readStream.schema(mid_schema).parquet(mid),
        resolution="1H",
        interpolation_limit="6H",
    )
    q2 = (
        filled.writeStream.format("memory")
        .queryName("fleet_fill_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got = sorted(
        (r["machine"], r["tag"], r["ts"], r["value"])
        for r in spark.table("fleet_fill_stream_test").collect()
    )
    assert len(got) == len(exp) and len(got) > 0
    assert got == exp


def test_flatline_stream_matches_batch(spark, tmp_path):
    """Live stuck-sensor runs == the batch flatline semantics: per-row
    current-run length across micro-batches, quantizer-identical."""
    import datetime as dt

    import pandas as pd
    from gordo_spark.streaming.stateful import flatline_stream

    base = dt.datetime(2024, 1, 1)
    vals = [1.0, 2.0, 4.2, 4.2, 4.2, 4.2, 4.2, 4.2, 4.2, 3.0, 4.2, 4.2]
    rows = [
        ("t", base + dt.timedelta(hours=i), v) for i, v in enumerate(vals)
    ] + [
        ("u", base + dt.timedelta(hours=i), 7.0) for i in range(8)
    ]
    pdf = pd.DataFrame(rows, columns=["tag", "ts", "value"])
    src = f"{tmp_path}/flatline_src"
    # two files -> two micro-batches via maxFilesPerTrigger: state must
    # carry the run across the batch boundary
    df_all = spark.createDataFrame(pdf)
    # one file per half (sorted): the stateful family's in-order-source
    # contract — a multi-part write would interleave batches arbitrarily
    df_all.filter(F.col("ts") < "2024-01-01 06:00:00").orderBy(
        "tag", "ts"
    ).coalesce(1).write.parquet(f"{src}/p1")
    df_all.filter(F.col("ts") >= "2024-01-01 06:00:00").orderBy(
        "tag", "ts"
    ).coalesce(1).write.parquet(f"{src}/p2")
    stream = (
        spark.readStream.schema(df_all.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    q = (
        flatline_stream(stream, min_len=6)
        .writeStream.format("memory")
        .queryName("flatline_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("flatline_stream_test")
        .toPandas()
        .sort_values(["tag", "ts"])
        .reset_index(drop=True)
    )
    t_rows = got[got.tag == "t"]
    assert list(t_rows["run_len"]) == [1, 1, 1, 2, 3, 4, 5, 6, 7, 1, 1, 2]
    assert list(t_rows["stuck"]) == [False] * 7 + [True, True] + [False] * 3
    u_rows = got[got.tag == "u"]
    assert list(u_rows["run_len"]) == list(range(1, 9))
    # batch twin agrees on the completed >= min_len run
    from gordo_spark.operators.tsa import flatline_runs

    runs = flatline_runs(df_all, min_len=6).collect()
    assert len(runs) == 2  # t's 4.2 x 7 run and u's 7.0 x 8 run
    by_tag = {r["tag"]: r for r in runs}
    assert by_tag["t"]["run_len"] == 7
    assert int(t_rows["run_len"].max()) == by_tag["t"]["run_len"]
    assert by_tag["u"]["run_len"] == 8


def test_fleet_consensus_stream_matches_batch(spark, tmp_path):
    """Live cross-sectional consensus == batch fleet_consensus_flags,
    bucket for bucket (scaled-int medians are dyadic-exact both ways)."""
    import datetime as dt

    import numpy as np
    from gordo_spark.operators.anomaly import fleet_consensus_flags
    from gordo_spark.streaming.scoring import fleet_consensus_stream

    rng = np.random.default_rng(43)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for m in range(12):
        for h in range(48):
            v = 50.0 + float(rng.normal(0, 0.5)) + (20.0 if m == 3 else 0.0)
            rows.append(
                (f"m{m}", "temp", base + dt.timedelta(hours=h), round(v, 6))
            )
    # sentinel event far past the range: advances the watermark so every
    # real window CLOSES under availableNow (append mode only emits
    # closed windows); its own never closes and is excluded both sides
    rows.append(("m0", "temp", base + dt.timedelta(hours=100), 1.0))
    df = spark.createDataFrame(
        rows, "machine string, tag string, ts timestamp, value double"
    )
    cutoff = base + dt.timedelta(hours=48)
    exp = sorted(
        (r["machine"], r["tag"], r["ts"], r["_ad"], r["z"], r["flagged"])
        for r in fleet_consensus_flags(df).collect()
        if r["ts"] < cutoff
    )
    src = f"{tmp_path}/fc_src"
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        fleet_consensus_stream(stream, resolution="1H", watermark="0S")
        .writeStream.format("memory")
        .queryName("fleet_consensus_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["machine"], r["tag"], r["ts"], r["_ad"], r["z"], r["flagged"])
        for r in spark.table("fleet_consensus_stream_test").collect()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # the drifted machine is flagged everywhere, its peers nowhere
    flags = {}
    for m, t, ts, ad, z, fl in got:
        flags.setdefault(m, []).append(fl)
    assert all(flags["m3"])
    # healthy machines: occasional robust-z exceedances are expected
    # (tight MAD when one machine is far off); rate must stay low
    other = [f for k, v in flags.items() if k != "m3" for f in v]
    assert sum(other) / len(other) < 0.1


def test_stream_drift_quartet_w1_and_perm_match_batch_at_width_200(
    spark, tmp_path
):
    """Streaming twin of the drift wave at fleet width 200: the windowed
    W1 screen (vs the frozen PSI reference) and the half-window
    permutation readout each equal their own batch application row for
    row; a planted second-half shift hits the minimum add-one p-value
    while stable tags stay insignificant. State on both monitors is
    bounded by tags x open windows."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from gordo_spark.streaming.quality import (
        psi_reference,
        stream_perm_drift_monitor,
        stream_w1_monitor,
    )

    width = 200
    base = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(17)
    # reference: yesterday's per-tag shape (uniform-ish on [tag, tag+20))
    ref_rows = [
        (f"t{t:03d}", float(t % 7 + i % 20))
        for t in range(width)
        for i in range(40)
    ]
    reference = psi_reference(
        spark.createDataFrame(ref_rows, "tag string, value double")
    )
    # live: 2 hour-windows x 200 tags x 24 rows; t007 jumps +50 in the
    # SECOND HALF of hour 1 (the perm monitor's cur arm)
    rows = []
    eid = 0
    for t in range(width):
        for h in range(2):
            for i in range(24):
                v = float(t % 7 + (i * 7) % 20)
                if t == 7 and h == 1 and i >= 12:
                    v += 50.0
                rows.append(
                    (
                        eid,
                        f"t{t:03d}",
                        base + dt.timedelta(hours=h, minutes=2 * i + 1),
                        round(v + float(rng.normal(0, 0.01)), 6),
                    )
                )
                eid += 1
    # sentinel far past the range so availableNow closes every window
    rows.append((eid, "t000", base + dt.timedelta(hours=50), 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, tag string, ts timestamp, value double"
    )
    src = f"{tmp_path}/drift_src"
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    cutoff = base + dt.timedelta(hours=2)

    def run(monitor, name, **kw):
        q = (
            monitor(stream, **kw)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.table(name)
            .toPandas()
            .sort_values(["window_start", "tag"])
            .reset_index(drop=True)
        )
        exp = (
            monitor(spark.read.parquet(src), **kw)
            .toPandas()
        )
        exp = (
            exp[exp["window_start"] < cutoff]
            .sort_values(["window_start", "tag"])
            .reset_index(drop=True)
        )
        return got, exp

    got_w1, exp_w1 = run(
        stream_w1_monitor, "w1_stream_q", reference=reference,
        window="1 hour", watermark="0 seconds",
    )
    assert len(got_w1) == len(exp_w1) == 2 * width
    pd.testing.assert_frame_equal(got_w1, exp_w1)
    w1 = got_w1.set_index(["tag", got_w1["window_start"].dt.hour])["w1"]
    # the half-window +50 shift clamps into the top reference bin, so
    # binned W1 saturates near span/2 x shifted-fraction — still far
    # above every unshifted (tag, window) and its own previous hour
    assert w1[("t007", 1)] > 3 * w1[("t007", 0)]
    assert w1[("t007", 1)] == w1.max()

    got_p, exp_p = run(
        stream_perm_drift_monitor, "perm_stream_q",
        window="1 hour", watermark="0 seconds", n_perm=39,
    )
    assert len(got_p) == len(exp_p) == 2 * width
    pd.testing.assert_frame_equal(got_p, exp_p)
    p = got_p.set_index(["tag", got_p["window_start"].dt.hour])
    assert p.loc[("t007", 1), "p_value"] == pytest.approx(1.0 / 40.0)
    assert abs(p.loc[("t007", 1), "delta_obs"]) > 30.0
    # stable tags: half-split means are ~equal; p concentrates high
    stable = got_p[got_p["tag"] != "t007"]["p_value"]
    assert (stable > 0.1).mean() > 0.9
    assert stable.notna().all()
