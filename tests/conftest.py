"""Shared Spark session for the test suite (one JVM per run, SURVEY.md §7.5#7)."""

from __future__ import annotations

import os
import shutil
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from token_burn_listener_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session", autouse=True)
def _remove_run_dirs():
    """The streaming checkpoints and targets the suite wrote go when it ends."""
    from token_burn_listener_spark import scratch

    yield
    shutil.rmtree(
        os.path.join(scratch.SCRATCH_ROOT, scratch.PROCESS_RUNS), ignore_errors=True
    )


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns ``(fn's result, number of Spark jobs it started)``."""

    def run(fn):
        sc = spark.sparkContext
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def codegen_compiles(spark):
    """``codegen_compiles(fn)`` runs ``fn()`` and returns ``(fn's result,
    number of classes Spark's code generator compiled meanwhile)``."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metric.METRIC_COMPILATION_TIME()

    def run(fn):
        before = compiles.getCount()
        out = fn()
        return out, compiles.getCount() - before

    return run
