"""Shared SparkSession for the test suite (one JVM for the whole run)."""

from __future__ import annotations

import pytest

from cl_data_frame_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("cl_data_frame_spark_tests", master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    import os
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def built_queries(spark, sf_dir):
    """Every ``__spark_entry__.queries()`` entry built ONCE at *sf_dir*
    ({name: DataFrame}), shared by the plan guards and the registry
    consistency checks that inspect the same DataFrames. ``st_stateful``
    is left out: building it runs a real stream, and no reader of this
    fixture inspects it."""
    import __spark_entry__ as E
    return {name: fn(spark, sf_dir) for name, fn in E.queries().items()
            if name != "st_stateful"}


@pytest.fixture
def py4j_commands(monkeypatch):
    """``count(fn)``: the py4j commands the driver sends to the JVM
    while ``fn()`` runs (every thread, callbacks included)."""
    from py4j.clientserver import ClientServerConnection
    sent = [0]
    real = ClientServerConnection.send_command

    def send_command(self, command):
        sent[0] += 1
        return real(self, command)
    monkeypatch.setattr(ClientServerConnection, "send_command",
                        send_command)

    def count(fn):
        n0 = sent[0]
        fn()
        return sent[0] - n0
    return count
