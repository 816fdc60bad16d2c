"""Moneyness bucketing + single-pass pivot aggregation.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
moneyness.py:33-133`` — a CASE-bucket CTE followed by a grouped pivot
computed with ``avgIf/stddevPopIf/countIf/sumIf`` in ONE scan, plus
derived smile metrics (put_call_skew, smile_curvature, wing_ratio)
and ``HAVING atm_count > 0``.

Spark design: the bucket is a ``when`` chain; the wide pivot is
``agg(f(when(bucket == b, col)))`` — one shuffle, map-side partial
aggregation. Catalyst would NOT rewrite a 5-scan version into this, so
the single-pass shape is preserved explicitly (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.config import (
    MONEYNESS_BUCKETS,
    DEFAULT,
    FeatureConfig,
)
from gapless_deribit_clickhouse_spark.functions.conditional import (
    avg_if,
    count_if,
    nullif_zero,
    stddev_pop_if,
    sum_if,
)
from gapless_deribit_clickhouse_spark.functions.timeutils import time_bucket


def moneyness_bucket_col(
    moneyness: Column, config: FeatureConfig = DEFAULT
) -> Column:
    """5-way CASE bucket on moneyness = strike / spot
    (reference moneyness.py:41-47; thresholds config.py:85-90)."""
    t0, t1, t2, t3 = config.moneyness_thresholds
    return (
        F.when(moneyness < t0, F.lit("deep_otm_put"))
        .when(moneyness < t1, F.lit("otm_put"))
        .when(moneyness < t2, F.lit("atm"))
        .when(moneyness < t3, F.lit("otm_call"))
        .otherwise(F.lit("deep_otm_call"))
    )


def aggregate_by_moneyness(
    df: DataFrame,
    pivot: bool = True,
    config: FeatureConfig = DEFAULT,
) -> DataFrame:
    """Per resample-window moneyness aggregation.

    ``pivot=False`` -> long format (ts, bucket, avg_iv, std_iv,
    trade_count, total_volume, call_count, put_count) — reference
    moneyness.py:33-67.
    ``pivot=True`` -> wide single-pass pivot + smile metrics with
    ``HAVING atm_count > 0`` — reference moneyness.py:70-133.
    """
    valid = df.filter((F.col("moneyness") > 0) & (F.col("iv") > 0))
    bucket = moneyness_bucket_col(F.col("moneyness"), config)
    ts = time_bucket(F.col("timestamp"), config.resample_seconds).alias("ts")

    if not pivot:
        return (
            valid.groupBy(ts, bucket.alias("moneyness_bucket"))
            .agg(
                F.avg("iv").alias("avg_iv"),
                F.stddev_pop("iv").alias("std_iv"),
                F.count(F.lit(1)).alias("trade_count"),
                F.sum("amount").alias("total_volume"),
                count_if(F.col("option_type") == "C").alias("call_count"),
                count_if(F.col("option_type") == "P").alias("put_count"),
            )
        )

    b = valid.withColumn("__bucket", bucket)
    iv, amt = F.col("iv"), F.col("amount")
    aggs = []
    for name in MONEYNESS_BUCKETS:
        cond = F.col("__bucket") == name
        aggs += [
            avg_if(cond, iv).alias(f"{name}_iv"),
            count_if(cond).alias(f"{name}_count"),
        ]
        if name == "atm":
            aggs += [
                stddev_pop_if(cond, iv).alias("atm_iv_std"),
                sum_if(cond, amt).alias("atm_volume"),
            ]
    wide = b.groupBy(ts).agg(*aggs).filter(F.col("atm_count") > 0)
    return wide.select(
        "*",
        (F.col("otm_put_iv") - F.col("otm_call_iv")).alias("put_call_skew"),
        (
            (F.col("otm_put_iv") + F.col("otm_call_iv")) / 2 - F.col("atm_iv")
        ).alias("smile_curvature"),
        (F.col("deep_otm_put_iv") / nullif_zero(F.col("deep_otm_call_iv"))).alias(
            "wing_ratio"
        ),
    )


def compute_smile_metrics(wide: DataFrame) -> DataFrame:
    """Standalone smile metrics from an already-pivoted frame
    (reference moneyness.py:267-300)."""
    return wide.select(
        "ts",
        "put_call_skew",
        "smile_curvature",
        "wing_ratio",
        (F.col("atm_iv_std") / nullif_zero(F.col("atm_iv"))).alias("atm_iv_cv"),
    )
