"""DTE (days-to-expiry) bucket aggregation + volume distribution.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
dte_buckets.py:27-198`` — pandas loops one filter+resample per bucket;
here both features are ONE groupBy pass with a bucket-label column
(SURVEY §2.2 F7 "single-pass preferred"), and the distribution's
row-total normalization is a window sum over the finished aggregate
(tiny relation — no second scan of the fact table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.config import DEFAULT, FeatureConfig, bucket_label
from gapless_deribit_clickhouse_spark.functions.conditional import safe_div
from gapless_deribit_clickhouse_spark.functions.timeutils import dte_days, time_bucket


def dte_bucket_col(dte: Column, config: FeatureConfig = DEFAULT) -> Column:
    """Label column for the configured (lo, hi) inclusive buckets;
    null outside every bucket (negative DTE = expired)."""
    expr = None
    for lo, hi in config.dte_buckets:
        cond = (dte >= lo) & (dte <= hi)
        expr = F.when(cond, F.lit(bucket_label(lo, hi))) if expr is None else expr.when(
            cond, F.lit(bucket_label(lo, hi))
        )
    return expr.otherwise(F.lit(None))


def dte_bucket_agg(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    """Per (window, dte_bucket): iv mean/std, volume sum/count, price
    mean (reference dte_buckets.py:27-129) — long format, one pass."""
    dte = dte_days(F.col("timestamp"), F.col("expiry"))
    return (
        df.withColumn("__bucket", dte_bucket_col(dte, config))
        .filter(F.col("__bucket").isNotNull())
        .groupBy(
            time_bucket(F.col("timestamp"), config.resample_seconds).alias("ts"),
            F.col("__bucket").alias("dte_bucket"),
        )
        .agg(
            F.avg("iv").alias("iv_mean"),
            F.stddev_pop("iv").alias("iv_std"),
            F.sum("amount").alias("volume_sum"),
            F.count(F.lit(1)).alias("trade_count"),
            F.avg("price").alias("price_mean"),
        )
    )


def dte_distribution(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    """Per-bucket share of each window's total volume, in percent
    (reference dte_buckets.py:132-198). The % normalization is a
    window-sum over the aggregate output (rows = windows × buckets),
    not a re-scan. A window whose volumes sum to 0 has null shares."""
    agg = (
        df.withColumn(
            "__bucket", dte_bucket_col(dte_days(F.col("timestamp"), F.col("expiry")), config)
        )
        .filter(F.col("__bucket").isNotNull())
        .groupBy(
            time_bucket(F.col("timestamp"), config.resample_seconds).alias("ts"),
            F.col("__bucket").alias("dte_bucket"),
        )
        .agg(F.sum("amount").alias("volume_sum"))
    )
    # the total is its own column: safe_div reads its divisor twice, and
    # an inline window sum would be computed twice
    total = F.sum("volume_sum").over(Window.partitionBy("ts"))
    return agg.withColumn("__total", total).select(
        "ts",
        "dte_bucket",
        "volume_sum",
        (safe_div(F.col("volume_sum"), F.col("__total")) * 100.0).alias("volume_pct"),
    )
