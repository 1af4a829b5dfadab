from __future__ import annotations

import os

import pytest

from european_emissions_data_warehouse_spark.session import (
    get_session,
    restore_scoped_confs,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Live session stashed at fixture setup so the autouse restore below never
# needs request.getfixturevalue during teardown (deprecated in pytest 8.4+,
# and its blanket except would have silently disabled the restore on a
# future pytest upgrade — ADVICE r8).  None whenever no session is live.
_LIVE_SESSION = None


@pytest.fixture(scope="session")
def spark():
    global _LIVE_SESSION
    session = get_session(
        app_name="eedw-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        shuffle_partitions=4,
    )
    _LIVE_SESSION = session
    yield session
    _LIVE_SESSION = None
    session.stop()


@pytest.fixture(autouse=True)
def _restore_scoped_confs(request):
    """Any test that builds a query with a call-site conf override
    (recursive_ancestry's row-brake ceiling) must not leak it into later
    tests through the session-scoped spark fixture (ADVICE r7) — restore
    after every test, even a failing one.  Reads the module-level holder
    (set by the spark fixture) rather than getfixturevalue: no Spark start
    for pure-Python tests, no deprecated teardown fixture access, and a
    failed session setup simply leaves the holder None."""
    yield
    if _LIVE_SESSION is not None and "spark" in request.fixturenames:
        restore_scoped_confs(_LIVE_SESSION)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns ``(result, jobs)``:
    the number of Spark jobs started while it ran, jobs of streaming
    queries included.  Job ids are dense, so a status-tracker watermark
    counts them: a one-job probe in its own job group marks the last id
    in use, and the walk runs forward from there after ``fn``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = "test-job-watermark"

    def count(fn):
        sc.setJobGroup(group, "job-id watermark probe")
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        start = end = max(tracker.getJobIdsForGroup(group)) + 1
        out = fn()
        bus.waitUntilEmpty()
        while tracker.getJobInfo(end) is not None:
            end += 1
        return out, end - start

    return count
