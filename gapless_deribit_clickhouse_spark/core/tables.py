"""Test-data table registration.

The testdata directories (``sf*/``, see ``DEFAULT_SF_DIR``) hold TPC-H-ish
parquet tables plus ``events`` (an event stream). Every engine query
addresses them as temp views so the same code runs over any scale
factor directory — and, on a real deployment, over a catalog table
instead (swap ``load_tables`` for ``spark.table``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, adapting the events timestamp.

    Side effects, applied for the rest of the session: a UTC session
    timezone on every load (date/hour extraction in any binding drifts
    vs the UTC-based oracle if a bare session on a non-UTC machine
    keeps its machine zone — and it must not flip mid-run depending on
    which table loads first), plus ``nanosAsLong`` for events (a
    TIMESTAMP(NANOS) footer is otherwise rejected outright; later
    nanos reads get LongType and must normalize as done here).
    Runtime-settable confs, applied HERE on every call because callers
    may hand us a bare SparkSession, or a ``newSession()`` sibling with
    its own SQL conf."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Normalize ts to microsecond TimestampType regardless of how the
        # footer stored it: NANOS arrives as long under nanosAsLong
        # (integer-truncate, bit-identical to DuckDB's ns read); NTZ
        # footers cast losslessly given the UTC session/machine timezone.
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load each parquet table lazily; no action is triggered."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (idempotent)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
