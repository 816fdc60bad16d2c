"""The session factory's JVM options: the merge of the pins with a
caller's ``extraJavaOptions`` (pure, no JVM), and the collector the
live driver JVM actually runs; and PySpark's per-call origin capture,
which the session switches off."""

from __future__ import annotations

import re

import pytest

from gapless_deribit_clickhouse_spark.core.session import _JVM_PIN, _java_options

DRIVER = "spark.driver.extraJavaOptions"
EXECUTOR = "spark.executor.extraJavaOptions"
SERIAL = "-XX:+UseSerialGC"


def _collectors(options: str) -> list[str]:
    return re.findall(r"-XX:\+Use\w+GC(?!\S)", options)


def test_pins_come_first_and_caller_options_follow():
    got = _java_options({DRIVER: "-Da=1 -Xss4m", EXECUTOR: "-Db=2", "spark.other": "x"})
    assert got == {
        DRIVER: " ".join(x for x in (_JVM_PIN, SERIAL, "-Da=1 -Xss4m") if x),
        EXECUTOR: " ".join(x for x in (_JVM_PIN, "-Db=2") if x),
    }


@pytest.mark.parametrize(
    "own,collectors",
    [
        ("", [SERIAL]),
        ("-XX:+UseStringDeduplication", [SERIAL]),
        ("-XX:+UseG1GC", ["-XX:+UseG1GC"]),
        ("-XX:+UseParallelGC", ["-XX:+UseParallelGC"]),
        ("-Dx=1 -XX:+UseZGC -Xss4m", ["-XX:+UseZGC"]),
    ],
)
def test_driver_selects_exactly_one_collector(own, collectors):
    """Serial reaches the driver key only, and a caller's own collector
    replaces it: two collector flags abort JVM startup."""
    got = _java_options({DRIVER: own})
    assert _collectors(got[DRIVER]) == collectors
    assert got[DRIVER].endswith(own)
    assert _collectors(got.get(EXECUTOR, "")) == []


def test_live_driver_runs_the_serial_collector(spark):
    """The pin reaches the JVM that ``get_spark`` launched: Serial's two
    collectors are the young-generation Copy and the old-generation
    MarkSweepCompact (G1's are "G1 Young Generation" and "G1 Old
    Generation")."""
    factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    names = {bean.getName() for bean in factory.getGarbageCollectorMXBeans()}
    assert names == {"Copy", "MarkSweepCompact"}


def test_origin_capture_is_off(spark, monkeypatch):
    """Building a bare ``F.col`` costs 3 Py4J round trips; with
    PySpark's origin capture on it costs 13 (it reads a conf and sets
    and clears the JVM's current origin around every call). PySpark
    reads the conf once per process, so the cached value is cleared to
    read it from the fixture session."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.errors import utils
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    F.col("x")  # reads the conf into the cache
    sent = []
    real = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    F.col("x")
    monkeypatch.undo()
    assert len(sent) <= 3
