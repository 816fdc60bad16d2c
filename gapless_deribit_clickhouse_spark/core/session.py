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
"""

from __future__ import annotations

import os
import platform

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


def get_spark(
    app_name: str = "gapless_deribit_clickhouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Defaults target local[N] testing but every setting is the one you
    would ship to a 1000-executor cluster: AQE owns runtime partition
    sizing, broadcast threshold is explicit, and all timestamps are UTC.
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # the arch-gated AVX2 JIT pin (see _JVM_PIN above); caller-supplied
    # extraJavaOptions in extra_conf are APPENDED to the pin, not
    # silently replaced by it (ADVICE r8)
    conf = dict(extra_conf or {})
    for key in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        caller = conf.pop(key, "")
        merged = " ".join(x for x in (_JVM_PIN, caller) if x)
        if merged:
            builder = builder.config(key, merged)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
