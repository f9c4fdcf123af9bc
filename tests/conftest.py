from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ml_data_wrangler_spark.session import get_spark

    s = get_spark(
        app_name="mdw-tests",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ["SPARK_GRAFT_SF_DIR"]


@pytest.fixture
def jobs_in_group(spark):
    """``jobs_in_group(name, fn)`` runs ``fn()`` under job group
    ``name`` and returns the ids of the jobs the group ran. The status store fills asynchronously, so a sentinel job in
    a second group is awaited first: listener events arrive in order,
    so once the sentinel is visible every earlier job is too."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(name, fn):
        sc.setJobGroup(name, name)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc.setJobGroup(f"{name}-sentinel", "status-store flush")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc._jsc.clearJobGroup()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(f"{name}-sentinel"):
            assert time.monotonic() < deadline, "status store never saw the sentinel job"
            time.sleep(0.05)
        return sorted(tracker.getJobIdsForGroup(name))

    return run
