"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys
import time
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# R14 token-plumbing fixture env var: must exist BEFORE the JVM starts —
# Python DataSource planning workers inherit the launch environment, so
# a mid-test os.environ change never reaches them (same rule applies in
# production: export the PAT before spark-submit).
os.environ.setdefault("FAKE_REST_PAT", "s3cret")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from hapiy_etl_spark.session import get_spark

    s = get_spark("hapiy_etl_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # override to replay parity at the driver's sf0.01:
    #   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest tests/test_oracle_parity.py
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn) -> (fn(), n_jobs)``: the Spark jobs ``fn``
    submitted from this thread, counted by running it under a fresh job
    group and asking the status tracker for the group's job ids."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex[:12]}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the tracker is fed by the async listener bus: wait until the
        # count stops moving
        n = len(tracker.getJobIdsForGroup(group))
        for _ in range(40):
            time.sleep(0.05)
            m = len(tracker.getJobIdsForGroup(group))
            if m == n:
                break
            n = m
        return out, n

    return run


@pytest.fixture
def py4j_round_trips(spark):
    """``py4j_round_trips(fn) -> (fn(), n)``: the py4j gateway calls
    ``fn`` made (one per ``send_command``)."""
    client = spark.sparkContext._gateway._gateway_client

    def run(fn):
        send = client.send_command
        calls = [0]

        def counting(*args, **kwargs):
            calls[0] += 1
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            out = fn()
        finally:
            client.send_command = send
        return out, calls[0]

    return run
