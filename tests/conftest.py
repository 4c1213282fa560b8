import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gordo_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_spark("gordo_spark_tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_count(spark):
    """``job_count(group, fn)``: the Spark jobs that ``fn()`` launches,
    counted through the job group ``group`` (one name per count: the
    tracker keeps a group's old jobs)."""
    sc = spark.sparkContext

    def count(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sensor_pdf():
    """Deterministic long-form sensor frame mirroring FIXTURES.md F1:
    4 tags x 2 days @ 1 min, gaps, dup timestamps, NaN/inf sprinkles."""
    rng = np.random.default_rng(0)
    frames = []
    for i, tag in enumerate(["tag-0", "tag-1", "tag-2", "GRA-TE  -23-0733.PV"]):
        ts = pd.date_range("2019-01-01", periods=2880, freq="1min")
        vals = rng.random(2880)
        pdf = pd.DataFrame({"tag": tag, "ts": ts, "value": vals})
        # gaps: drop a 3h block and a 60h block (beyond 48H limit)
        pdf = pdf[~((pdf.ts >= "2019-01-01 06:00") & (pdf.ts < "2019-01-01 09:00"))]
        if i == 1:
            pdf = pdf[~(pdf.ts >= "2019-01-01 12:00")][:500]
        # duplicate timestamps to exercise resample-agg
        dup = pdf.iloc[:25].copy()
        dup["value"] = dup["value"] + 1.0
        pdf = pd.concat([pdf, dup])
        frames.append(pdf)
    out = pd.concat(frames, ignore_index=True)
    # sprinkle NaN / inf
    out.loc[out.index[::501], "value"] = np.nan
    out.loc[out.index[1000], "value"] = np.inf
    out.loc[out.index[2000], "value"] = -np.inf
    return out


@pytest.fixture(scope="session")
def sensor_df(spark, sensor_pdf):
    return spark.createDataFrame(sensor_pdf)
