import uuid

import pytest

from sits_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="sits-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


def jobs_in(spark, fn):
    """``fn()`` and the Spark job ids launched while it ran, counted by
    job group."""
    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)
