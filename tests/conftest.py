from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, "/root/repo")

# Tiny-frame invariant (operators/ranks.py:with_tiny_rank) is CHECKED in the
# test suite: every bounded-frame rank site counts its frame and raises if it
# exceeds the declared bound.
os.environ.setdefault("SVH_ASSERT_TINY_FRAMES", "1")

from shortvideohybridanalyticslakehouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("svh-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` calls ``fn`` under a fresh job group and returns
    (Spark jobs it launched, its result); the jobs are read from the status
    tracker once the listener bus has delivered every event."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    return run
