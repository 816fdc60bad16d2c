"""Query registry behind ``__spark_entry__``.

Binds the engine's operators to the testdata tables, pairing each
Spark DataFrame query with the exact ANSI-SQL DuckDB oracle. The
registry is assembled from per-area binding modules (ordered in
``bindings/__init__.py``); each binding aliases its output columns
identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gapless_deribit_clickhouse_spark.bindings import ALL_BINDINGS

QueryFn = Callable[[SparkSession, str], DataFrame]

FLAGSHIP = "feature_pipeline"


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, fn, _sql in ALL_BINDINGS}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _fn, sql in ALL_BINDINGS if sql is not None}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return queries()[FLAGSHIP](spark, sf_dir)
