"""Query-registry contract.

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
exposes every bound operator as ``(spark, sf_dir) -> DataFrame``;
``oracle_sql()`` gives the DuckDB equivalent per key. Column names
are aliased identically on both sides, so a compare can sort columns
by name before comparing values (tests/test_registry_oracle.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gapless_deribit_clickhouse_spark import entry_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 testdata; must return rows."""
    return entry_queries.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return entry_queries.queries()


def oracle_sql() -> dict[str, str]:
    return entry_queries.oracle_sql()
