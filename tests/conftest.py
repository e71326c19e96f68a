from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iconic_data_science_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ids-spark-tests", shuffle_partitions=8, driver_memory="8g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_ORACLE_DIR


@pytest.fixture
def arrow_strict(spark):
    """Arrow transfers (``toPandas``, ``createDataFrame`` from pandas)
    raise instead of silently falling back to the pickled path, so a
    driver-local tier that drops off Arrow fails its test."""
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


_JOB_GROUPS = itertools.count()  # job-group names must be unique per session


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)`` runs ``fn`` and returns how many Spark jobs
    it launched (counted by job group through the status tracker, once
    the listener bus has delivered every job event)."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"jobs-launched-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def py4j_calls(spark):
    """``py4j_calls(fn)`` runs ``fn`` and returns how many py4j round
    trips (commands sent to the JVM) it made."""
    client = spark.sparkContext._gateway._gateway_client

    def run(fn) -> int:
        calls = 0
        send = client.send_command

        def counting(*args, **kwargs):
            nonlocal calls
            calls += 1
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            fn()
        finally:
            del client.send_command
        return calls

    return run
