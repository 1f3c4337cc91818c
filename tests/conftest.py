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


@pytest.fixture
def la_time(spark):
    """Python's local time zone and the session time zone both set to
    America/Los_Angeles, so a naive ``datetime`` read as UTC shows."""
    import time
    old_tz = os.environ.get("TZ")
    old_session = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        yield
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session)
