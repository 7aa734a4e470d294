from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest
from py4j.java_gateway import GatewayClient

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_serverless_elt_pipeline_enterprise_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cdc-engine-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@contextlib.contextmanager
def _py4j_calls():
    """Count Py4J commands sent while the block runs. Memory-release
    commands ("m") are skipped: they follow Python garbage collection,
    not the code under test."""
    count = [0]
    orig = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            count[0] += 1
        return orig(self, command, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield count
    finally:
        GatewayClient.send_command = orig


@contextlib.contextmanager
def _spark_jobs(spark):
    """Collect the ids of the Spark jobs the block runs, through a job
    group of its own."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker learns of jobs from the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def py4j_calls():
    """``with py4j_calls() as n:`` counts the block's Py4J round trips in
    ``n[0]``."""
    return _py4j_calls


@pytest.fixture
def spark_jobs():
    """``with spark_jobs(spark) as ids:`` collects the block's Spark job
    ids."""
    return _spark_jobs
