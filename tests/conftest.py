"""Shared fixtures: one local SparkSession per test run, fixture dirs."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from featurestore_for_joycastle_java_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # saveAsTable targets (bucketed-join tests) land in a tempdir, never
    # the repo, and the tempdir goes with the session
    warehouse = tempfile.mkdtemp(prefix="fs_warehouse_")
    s = get_spark(
        app_name="featurestore-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    s.stop()
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    # override with SPARK_GRAFT_ORACLE_SF_DIR to run parity at sf0.01
    return SF_ORACLE


def _jobs_in(spark, group: str, build) -> int:
    """Number of Spark jobs ``build()`` launches under job group ``group``.
    The status store fills from the listener bus asynchronously, so a
    marker job in its own group is awaited after it: the bus is FIFO, so
    once the marker shows, every earlier job has shown too."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setJobGroup(group + "-marker", "marker")
    spark.range(1).count()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return len(tracker.getJobIdsForGroup(group))


@pytest.fixture
def jobs_in():
    """``jobs_in(spark, group, build)``: the Spark jobs ``build()`` launches."""
    return _jobs_in
