from __future__ import annotations

import uuid

import pytest

from pandas_streaming_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"  # unit/differential scale (fast)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running property test (hypothesis examples)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pss-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` runs ``fn`` under a fresh job group and
    returns ``(result, ids of the Spark jobs fn started)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"probe-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
