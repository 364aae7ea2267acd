from __future__ import annotations

import contextlib

import pytest

from intervalaverage_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ia-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def rows(df, *order):
    """Collect to a list of plain dicts, sorted for order-insensitive compare."""
    data = [r.asDict(recursive=True) for r in df.collect()]
    if order:
        data.sort(key=lambda d: tuple((d[k] is None, d[k]) for k in order))
    return data


@contextlib.contextmanager
def spark_jobs(spark, group):
    """Collects the ids of the Spark jobs started inside the block."""
    sc, ids = spark.sparkContext, []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        ids += sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup(None, None)
