"""Shared fixtures. The SparkSession is session-scoped (JVM startup
is ~10 s); tests must not stop it."""

from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TESTDATA = os.environ.get("QIZNER_TESTDATA", "/root/testdata/sf0.001")
TESTDATA_SF001 = "/root/testdata/sf0.01"
REFERENCE_CORPORA = "/root/reference/corpora"


@pytest.fixture(scope="session")
def spark():
    from qizner_spark.session import get_spark

    spark = get_spark(
        app_name="qizner-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TESTDATA


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a job group of its own and
    returns ``(fn(), number of Spark jobs it ran)``, read from the
    status tracker once the listener bus has caught up."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
