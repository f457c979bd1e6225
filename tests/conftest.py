from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_sink_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cdc-sink-spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_count(spark):
    """``job_count(fn)``: the Spark jobs ``fn()`` runs, read from the
    status tracker under a job group of its own."""

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
