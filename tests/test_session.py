"""The session factory's JVM options: the merge of the pins with a
caller's ``extraJavaOptions`` (pure, no JVM), the collector and the
compiler directives the live driver JVM actually runs with, and how
Spark's launcher splits the options; the compiler-directives file
itself; and PySpark's per-call origin capture, which the session
switches off."""

from __future__ import annotations

import glob
import json
import os
import re
import shlex
import subprocess

import pytest

from gapless_deribit_clickhouse_spark.core import session
from gapless_deribit_clickhouse_spark.core.session import _JVM_PIN, _java_options

DRIVER = "spark.driver.extraJavaOptions"
EXECUTOR = "spark.executor.extraJavaOptions"
SERIAL = "-XX:+UseSerialGC"
UNLOCK = "-XX:+UnlockDiagnosticVMOptions"
DIRECTIVES = "-XX:CompilerDirectivesFile="
PIN_JIT = f"{UNLOCK} {session._quoted(DIRECTIVES + session._DIRECTIVES_FILE)}"


def _collectors(options: str) -> list[str]:
    return re.findall(r"-XX:\+Use\w+GC(?!\S)", options)


def test_pins_come_first_and_caller_options_follow():
    got = _java_options({DRIVER: "-Da=1 -Xss4m", EXECUTOR: "-Db=2", "spark.other": "x"})
    assert got == {
        DRIVER: " ".join(x for x in (_JVM_PIN, SERIAL, PIN_JIT, "-Da=1 -Xss4m") if x),
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


@pytest.mark.parametrize(
    "own,directives",
    [
        ("", [session._DIRECTIVES_FILE]),
        ("-Dx=1 -XX:+UnlockDiagnosticVMOptions", [session._DIRECTIVES_FILE]),
        (f"{UNLOCK} {DIRECTIVES}/etc/own.json", ["/etc/own.json"]),
    ],
)
def test_directives_pin_unlocks_first_on_the_driver_only(own, directives):
    """The unlock flag precedes the directives flag (a diagnostic flag
    before its unlock aborts JVM startup), the pin reaches the driver
    key only, and a caller's own ``-XX:CompilerDirectivesFile`` replaces
    it."""
    got = _java_options({DRIVER: own})
    tokens = shlex.split(got[DRIVER])
    files = [t.removeprefix(DIRECTIVES) for t in tokens if t.startswith(DIRECTIVES)]
    assert files == directives
    first = next(i for i, t in enumerate(tokens) if t.startswith(DIRECTIVES))
    assert UNLOCK in tokens[:first]
    assert got[DRIVER].endswith(own)
    assert DIRECTIVES not in got.get(EXECUTOR, "")
    assert UNLOCK not in got.get(EXECUTOR, "")


def test_directives_file_only_excludes_c2():
    """The file is strict JSON and every entry is exactly a match list
    plus ``c2: {Exclude: true}``: HotSpot accepts a misspelled key
    (``"Exclud"``) without an error and ignores it, so only this test
    catches one. No pattern matches every class, and none names C1,
    which compiles the excluded code at level 1 instead."""
    with open(session._DIRECTIVES_FILE) as f:
        entries = json.load(f)
    assert entries
    for entry in entries:
        assert set(entry) == {"match", "c2"}, entry
        assert entry["c2"] == {"Exclude": True}, entry
        assert entry["match"] and all(isinstance(p, str) for p in entry["match"]), entry
        for pattern in entry["match"]:
            cls, _, method = pattern.rpartition(".")
            assert re.fullmatch(r"[a-z]\w*(/\w+)+/?\*?", cls) and method == "*", pattern


def _launcher_split(options: str) -> list[str]:
    """The driver JVM arguments Spark's launcher builds from a
    ``spark.driver.extraJavaOptions`` value: the command that
    ``bin/spark-submit`` runs for PySpark's gateway, NUL-separated."""
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    (jar,) = glob.glob(os.path.join(home, "jars", "spark-launcher_*.jar"))
    scala = re.search(r"spark-launcher_(\d+\.\d+)-", jar).group(1)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    out = subprocess.run(
        [java, "-cp", jar, "org.apache.spark.launcher.Main", "org.apache.spark.deploy.SparkSubmit",
         "--conf", f"{DRIVER}={options}", "pyspark-shell"],
        env={**os.environ, "SPARK_HOME": home, "SPARK_SCALA_VERSION": scala},
        capture_output=True, check=True, timeout=120,
    ).stdout.decode()
    return out.split("\0")


def test_directives_path_with_a_space_survives_option_splitting(monkeypatch):
    """Spark splits extraJavaOptions on whitespace and reads quotes and
    backslashes as escapes: a package path holding any of them still
    reaches the JVM as one whole ``-XX:CompilerDirectivesFile`` option."""
    path = '/srv/my site/pkg\\x"y/compiler_directives.json'
    monkeypatch.setattr(session, "_DIRECTIVES_FILE", path)
    args = _launcher_split(_java_options({DRIVER: "-Dx=1"})[DRIVER])
    assert DIRECTIVES + path in args
    assert args.index(UNLOCK) < args.index(DIRECTIVES + path) < args.index("-Dx=1")


def test_live_driver_loads_the_directives_file(spark):
    """The pin reaches the JVM that ``get_spark`` launched. A directives
    file that HotSpot cannot read or parse aborts JVM startup ("Parsing
    of compiler directives failed"), so a live driver also shows that
    this one parsed."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean)
    assert hotspot.getVMOption("CompilerDirectivesFile").getValue() == session._DIRECTIVES_FILE


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
