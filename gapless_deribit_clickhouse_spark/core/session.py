"""SparkSession factory.

Replaces the reference's ClickHouse connection management
(``/root/reference/src/gapless_deribit_clickhouse/clickhouse/connection.py:38-58``):
instead of an HTTPS client to an external server, the engine owns a
SparkSession configured for the workload:

- UTC session timezone (the reference mixes naive local time and UTC;
  we standardize — SURVEY §7.3.6) and for DuckDB-oracle comparability.
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- shuffle partitions sized to cores for local mode; on a real cluster
  AQE coalesces the initial number down, so a generous initial value
  plus adaptive is the scale-safe setting.
- Arrow enabled: every pandas_udf / applyInPandas / toPandas crossing
  is Arrow-batched, never row-pickled.
- the driver JVM runs the Serial collector. In local mode that JVM is
  also the only executor, and at pipeline sizes its live heap is
  ~120-160 MB, for which G1 grows the committed heap to 465-816 MB and
  Serial to 244-276 MB (median peak RSS -26 to -43% on every perfbench
  workload, CPU within noise). The cost is stop-the-world pauses that
  grow with the live set: the longest in a perfbench run measured
  102-256 ms (full collections at the metaspace threshold while
  classes load; G1's longest 19-41 ms), and a run pauses 0.4-0.8 s
  longer in all than on G1. Executors keep the JVM's default
  collector, since a cluster executor with a large heap and many cores
  is what G1 is for. A caller whose own driver options select a
  collector (``-XX:+Use<Name>GC``) gets that one instead.
- the driver JVM does not C2-compile the engine's one-shot machinery.
  Sessions here are short, and the JIT is most of their CPU: C2 alone
  took 33 s in a perfbench point_queries JVM and 40 s in a
  feature_batch one (JFR ``jdk.Compilation``), most of it on code that
  runs once per session, plan, task or generated class. The HotSpot
  compiler-directives file ``compiler_directives.json`` next to this
  module (``-XX:+UnlockDiagnosticVMOptions
  -XX:CompilerDirectivesFile=...``, driver key only) sets
  ``c2: {Exclude: true}`` for Janino and Spark's code generator, the
  SQL parser (ANTLR), Catalyst's analyzer, optimizer and planner,
  Java and Scala-collection serialization, closure cleaning (ASM),
  class loading and jar reading, method-handle linkage, Scala
  reflection and Hadoop's Configuration parsing; HotSpot compiles
  those methods at C1 level 1 instead. C2 stays on for all code that
  can run per row: the generated classes, expressions, parquet,
  aggregation, sorting, ``unsafe``, regex and ICU (``initcap``). C2
  time per seed-1 JVM fell 33 -> 21 s (point_queries), 40 -> 25 s
  (feature_batch) and 17 -> 9 s (backfill). Median ``op_cpu_ms`` fell
  30% on point_queries (10 of 10 pairs) and 19% on the other two, with
  ``query_p50_ms`` and ``feature_rows_per_s`` no worse. C1 alone
  (``-XX:TieredStopAtLevel=1``) saves more CPU but runs row code
  slower: ``feature_rows_per_s`` -19%, and a repeated 1M-row feature
  pass +60% wall time (ROADMAP item 5). The JVM prints "N compiler
  directives added" on stdout at start. A caller whose own driver
  options name a ``-XX:CompilerDirectivesFile`` gets that one instead.
- the generated-code cache holds 1000 classes
  (``spark.sql.codegen.cache.maxEntries``, a static conf, so it is set
  in the builder). A pass of the 8 feature stages generates 125-140;
  at Spark's default of 100 the LRU evicts them, and every later pass
  in the session compiles all of them again.
- PySpark's per-call origin capture is off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``pyspark.sql.functions`` call records its Python call site in
  the JVM: a bare ``F.col`` costs 13 Py4J round trips instead of 3, and
  building one FINAL point ``fetch_trades`` plan 622 instead of 164.
  The cost is that an analysis error no longer names the Python line
  that built the failing expression; the error itself is unchanged.
  PySpark reads the conf once per process, from the active session
  (``pyspark/errors/utils.py:is_debugging_enabled``), so it is set in
  the builder.
"""

from __future__ import annotations

import os
import platform
import re

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# OpenJDK 17.0.20 on AVX-512 hosts SIGSEGVs in the
# jlong_disjoint_arraycopy_avx3 stub under sustained arraycopy load
# (two hs_err crashes ~663s into r7 bench runs, one of which killed
# mergeable_rollup_sustained_30s telemetry). Capping the JIT at AVX2
# never emits the faulting avx3 stubs; the cost on this workload is
# negligible (arraycopy is not the bottleneck of any query plan here).
# UseAVX is an x86-only HotSpot flag — an unrecognized -XX option
# aborts JVM startup on aarch64 — so the pin is gated on the machine
# arch (ADVICE r8).
_JVM_PIN = (
    "-XX:UseAVX=2"
    if platform.machine().lower() in ("x86_64", "amd64", "i386", "i686")
    else ""
)

# Serial on the driver only (see the module docstring). Two collector
# flags abort JVM startup ("Multiple garbage collectors selected"), so
# a caller's own -XX:+Use<Name>GC suppresses this one.
_DRIVER_GC = "-XX:+UseSerialGC"
_SELECTS_GC = re.compile(r"-XX:\+Use\w+GC\b")


def _quoted(option: str) -> str:
    """``option`` as one token of an extraJavaOptions value, which
    Spark splits on whitespace, reading quotes and backslashes as
    escapes."""
    return '"' + option.replace("\\", "\\\\").replace('"', '\\"') + '"'


# C2 off for the engine's one-shot machinery (see the module
# docstring). CompilerDirectivesFile is a diagnostic flag, so the
# unlock goes first; the path is quoted, as it may hold a space.
_DIRECTIVES_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "compiler_directives.json")
_DIRECTIVES_FLAG = "-XX:CompilerDirectivesFile="
_DRIVER_OPTS = "spark.driver.extraJavaOptions"
_EXECUTOR_OPTS = "spark.executor.extraJavaOptions"


def _java_options(extra_conf: dict[str, str]) -> dict[str, str]:
    """The extraJavaOptions values ``get_spark`` sets for ``extra_conf``.

    The pins come first and the caller's options follow on both keys,
    appended rather than replaced (ADVICE r8); the collector and
    compiler-directives pins go on the driver key only, and each is
    left out when the caller's driver options set their own.
    """
    merged = {}
    for key in (_DRIVER_OPTS, _EXECUTOR_OPTS):
        caller = extra_conf.get(key, "")
        driver = key == _DRIVER_OPTS
        gc = _DRIVER_GC if driver and not _SELECTS_GC.search(caller) else ""
        jit = (
            f"-XX:+UnlockDiagnosticVMOptions {_quoted(_DIRECTIVES_FLAG + _DIRECTIVES_FILE)}"
            if driver and _DIRECTIVES_FLAG not in caller
            else ""
        )
        value = " ".join(x for x in (_JVM_PIN, gc, jit, caller) if x)
        if value:
            merged[key] = value
    return merged


def get_spark(
    app_name: str = "gapless_deribit_clickhouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Defaults target local[N]. The SQL settings carry over to a cluster
    unchanged: AQE owns runtime partition sizing, the broadcast
    threshold is explicit, and all timestamps are UTC. The JVM options
    do not all carry over: the driver runs the Serial collector, sized
    for local mode's small live heap, at the cost of stop-the-world
    pauses that grow with the live set (longest measured 102-256 ms);
    executors keep the JVM default. A collector chosen in the caller's
    ``spark.driver.extraJavaOptions`` wins over the pinned one. The
    driver also loads ``compiler_directives.json``, which keeps C2 off
    the code that runs once per session, plan, task or generated class
    (C1 compiles it): point_queries ``op_cpu_ms`` -30% with latency no
    worse; the JVM prints "N compiler directives added" at start, and a
    caller's own ``-XX:CompilerDirectivesFile`` wins. The codegen cache
    holds 1000 classes, so a repeated feature pass compiles almost none.
    Origin capture is off, so an analysis error carries no Python call
    site (module docstring).
    """
    cpus = int(_DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long and convert at load
        # (core.tables normalizes to microsecond TimestampType).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # room for every class one feature pass generates (125-140 for
        # the 8 feature stages): at the default 100, LRU eviction makes
        # every later pass recompile all of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_java_options(extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
