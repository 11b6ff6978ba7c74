from __future__ import annotations

import os
import uuid

import pytest

from crowdsorsa_etl_spark.session import get_spark


def _slow_nodeids() -> set[str]:
    path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(path) as fh:
            return {
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return set()


def pytest_collection_modifyitems(config, items):
    """Mark the measured-slow tests (tests/slow_tests.txt) with ``slow``.

    pytest.ini deselects them by default so the driver-visible tier
    finishes inside the driver's window; the round close runs the full
    suite with ``-m "slow or not slow"``. An entry that names no test
    would match nothing, so ``test_artifact_guards`` fails on one."""
    slow = _slow_nodeids()
    if not slow:
        return
    marker = pytest.mark.slow
    for item in items:
        if item.nodeid in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn's result, the number of Spark jobs it
    launched), read from the status tracker under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
