"""Conditional-aggregation helpers.

The reference leans heavily on ClickHouse's ``*If`` combinators
(``avgIf/sumIf/countIf/stddevPopIf`` —
``/root/reference/src/gapless_deribit_clickhouse/features/moneyness.py:70-133``,
``validation/data_quality.py:30-45``) to compute multi-bucket pivots in
a single scan. Spark's equivalent is ``f(when(cond, col))`` inside one
``agg`` — this module names that pattern so every feature uses the
single-pass shape (Catalyst does NOT rewrite a naive N-scan version;
SURVEY §4).

All helpers return unaliased Columns; callers ``.alias(...)`` so that
output names match the DuckDB oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sum_if(cond: Column, col: Column) -> Column:
    return F.sum(F.when(cond, col))


def avg_if(cond: Column, col: Column) -> Column:
    return F.avg(F.when(cond, col))


def count_if(cond: Column) -> Column:
    """Exact conditional count; returns 0 (not null) for empty groups,
    matching ClickHouse ``countIf``."""
    return F.count(F.when(cond, F.lit(1)))


def stddev_pop_if(cond: Column, col: Column) -> Column:
    """Population std-dev (the reference uses stddevPop, not sample —
    SURVEY §7.3.5)."""
    return F.stddev_pop(F.when(cond, col))


def nullif_zero(col: Column) -> Column:
    """ClickHouse ``nullIf(x, 0)`` — division guards."""
    return F.when(col == 0, F.lit(None)).otherwise(col)


def safe_div(num: Column, den: Column) -> Column:
    """num/den with divide-by-zero -> null (reference convention for
    PCR / wing ratios — ``features/pcr.py:117``)."""
    return num / nullif_zero(den)
