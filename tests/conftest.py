from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("PYSPARK_PYTHON", os.sys.executable)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("csvw-rdf-convertor-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s


@pytest.fixture
def py4j_commands(monkeypatch):
    """``count(fn, *args)`` → number of py4j commands Python sends to
    the JVM while ``fn`` runs (PySpark's pinned-thread ``ClientServer``
    connection). Memory-release commands (``m…``) are left out: the garbage
    collector sends them whenever it runs, not when the code under test
    calls into the JVM."""
    from py4j.clientserver import ClientServerConnection

    sent = []  # list.append is atomic, so request threads may share it
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m"):
            sent.append(None)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(fn, *args, **kwargs) -> int:
        before = len(sent)
        fn(*args, **kwargs)
        n = len(sent) - before
        # zero means the connection class changed and nothing was counted
        assert n > 0, "no py4j commands seen: is the JVM connection pinned?"
        return n

    return count
