"""Weighted order statistics as pure window/aggregate plans.

ClickHouse ships ``quantileExactWeighted`` / ``medianExactWeighted``;
Spark has no weighted quantile, so the definition is expressed
directly: the weighted q-quantile is the smallest value whose running
weight reaches q of the group total.  Exact integer weights keep the
threshold comparison exact (cum * 1 >= q * total is evaluated as an
integer cross-multiplication, never a division).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def weighted_median_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per group, the smallest value whose cumulative weight reaches
    half the group total (the weighted median), plus the total
    weight.  One shuffle on the group key, shared by the cumulative
    window, the total window, and the final aggregation.  Rows with
    NULL value or NULL/non-positive weight carry no mass.  Value-tie
    qualification is order-independent: the last row of a tie run
    carries the run's full cumulative weight, so whether a VALUE
    qualifies never depends on intra-tie order."""
    gc = list(group_cols)
    src = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    )
    w = Window.partitionBy(*gc).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy(*gc)
    return (
        src.withColumn("__cum", F.sum(weight_col).over(w))
        .withColumn("__total", F.sum(weight_col).over(tot))
        .filter(2 * F.col("__cum") >= F.col("__total"))
        .groupBy(*gc)
        .agg(
            F.min(value_col).alias("weighted_median"),
            F.min("__total").cast("bigint").alias("total_weight"),
        )
    )
