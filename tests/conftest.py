import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from padawan_spark import get_spark
    s = get_spark(app_name="padawan-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("PADAWAN_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args)`` → ``(fn's result, Spark jobs it ran)``.
    The call runs under its own job group, and the group's jobs are
    counted once the listener bus has delivered every job event."""
    sc = spark.sparkContext

    def run(fn, *args, **kwargs):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
