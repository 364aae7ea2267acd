from __future__ import annotations

import contextlib
import threading

import pytest
from py4j import protocol

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


def _py4j_calls(spark, monkeypatch, build):
    """The driver → JVM calls ``build()`` makes on this thread."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, calls = client.send_command, threading.get_ident(), []

    def counting(command, *args, **kwargs):
        # object releases come from py4j's finalizer thread, not the build
        if threading.get_ident() == me and not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        build()
    return len(calls)
