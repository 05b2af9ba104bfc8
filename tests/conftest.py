from __future__ import annotations

import time
from contextlib import contextmanager

import pytest

from mapping_timeseries_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@contextmanager
def job_group(sc, group: str):
    """Run the block under Spark job group ``group`` and yield the list of
    job ids the group started, filled in when the block exits. The
    thread's previous job group and description are restored."""
    props = ("spark.jobGroup.id", "spark.job.description")
    prev = {k: sc.getLocalProperty(k) for k in props}
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def persisted_rdd_ids(spark) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def new_persisted_rdds(spark, before: set[int], settle_s: float = 5.0) -> set[int]:
    """Ids of RDDs persisted now that were not in ``before``, polled for
    up to ``settle_s`` seconds until none is left: a non-blocking
    unpersist can lag. Compared by id, not by count, because the
    ContextCleaner may retire older RDDs meanwhile."""
    deadline = time.monotonic() + settle_s
    while (left := persisted_rdd_ids(spark) - before) and time.monotonic() < deadline:
        time.sleep(0.1)
    return left
