"""Put/call ratio by tenor.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
pcr.py:26-180`` — pandas splits puts and calls into separate frames,
resamples each, aligns and fills 0. Spark design: one groupBy with
conditional sums (put/call alignment J5 needs no join), div-by-zero ->
null, LEAPS (dte > exclude threshold) excluded before aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.config import DEFAULT, FeatureConfig
from gapless_deribit_clickhouse_spark.features.dte_buckets import dte_bucket_col
from gapless_deribit_clickhouse_spark.functions.conditional import (
    count_if,
    safe_div,
    sum_if,
)
from gapless_deribit_clickhouse_spark.functions.timeutils import dte_days, time_bucket


def _pcr_aggs(method: str):
    is_put = F.col("option_type") == "P"
    is_call = F.col("option_type") == "C"
    if method == "volume":
        put = sum_if(is_put, F.col("amount"))
        call = sum_if(is_call, F.col("amount"))
    elif method == "count":
        put = count_if(is_put).cast("double")
        call = count_if(is_call).cast("double")
    else:
        raise ValueError(f"method must be 'volume' or 'count', got {method!r}")
    # missing side -> 0 (reference pcr.py:114 fillna(0))
    return (
        F.coalesce(put, F.lit(0.0)).alias("put_volume"),
        F.coalesce(call, F.lit(0.0)).alias("call_volume"),
    )


def pcr_by_tenor(
    df: DataFrame,
    method: str = "volume",
    config: FeatureConfig = DEFAULT,
) -> DataFrame:
    """Per (window, dte_bucket): put volume, call volume, pcr
    (reference pcr.py:26-124). PCR is null when the call side is 0."""
    dte = dte_days(F.col("timestamp"), F.col("expiry"))
    put, call = _pcr_aggs(method)
    return (
        df.filter(dte <= config.exclude_leaps_dte)
        .withColumn("__bucket", dte_bucket_col(dte, config))
        .filter(F.col("__bucket").isNotNull())
        .groupBy(
            time_bucket(F.col("timestamp"), config.resample_seconds).alias("ts"),
            F.col("__bucket").alias("dte_bucket"),
        )
        .agg(put, call)
        .select(
            "ts",
            "dte_bucket",
            "put_volume",
            "call_volume",
            safe_div(F.col("put_volume"), F.col("call_volume")).alias("pcr"),
        )
    )


def pcr_aggregate(
    df: DataFrame,
    method: str = "volume",
    config: FeatureConfig = DEFAULT,
) -> DataFrame:
    """All-tenor PCR per window (reference pcr.py:127-180)."""
    dte = dte_days(F.col("timestamp"), F.col("expiry"))
    put, call = _pcr_aggs(method)
    return (
        df.filter(dte <= config.exclude_leaps_dte)
        .groupBy(time_bucket(F.col("timestamp"), config.resample_seconds).alias("ts"))
        .agg(put, call)
        .select(
            "ts",
            "put_volume",
            "call_volume",
            safe_div(F.col("put_volume"), F.col("call_volume")).alias("pcr"),
        )
    )
