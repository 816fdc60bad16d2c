"""Domain resampler: trades -> regular IV OHLC bars.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
resampler.py:25-170`` — pandas resample with iv first/max/min/last +
amount sum per 15-min bar (``resample_iv``), and a per-DTE-bucket
variant returning a dict of frames (``resample_by_dte_bucket``).

Spark design: thin wrappers over ``operators.resample.ohlc_resample``
(deterministic min_by/max_by open/close); the per-bucket variant is
ONE groupBy with the bucket label as an extra key — not a Python loop
of filters (reference dte loop at resampler.py:114-170).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.config import DEFAULT, FeatureConfig
from gapless_deribit_clickhouse_spark.features.dte_buckets import dte_bucket_col
from gapless_deribit_clickhouse_spark.functions.timeutils import dte_days
from gapless_deribit_clickhouse_spark.operators.resample import ohlc_resample


def resample_iv(
    df: DataFrame,
    keys: tuple[str, ...] = (),
    config: FeatureConfig = DEFAULT,
) -> DataFrame:
    """15-min IV bars of the trades' ``iv``: iv_open/high/low/close +
    ``amount`` volume + n_obs, ties at equal ``timestamp`` broken by
    ``trade_id``; empty bars dropped, null IVs dropped pre-resample
    (reference resampler.py:77)."""
    return ohlc_resample(
        df,
        ts_col="timestamp",
        value_col="iv",
        volume_col="amount",
        step_seconds=config.resample_seconds,
        keys=keys,
        tiebreak_col="trade_id",
        prefix="iv_",
    )


def resample_by_dte_bucket(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    """Per-DTE-bucket OHLC bars in one pass (long format keyed by
    ``dte_bucket`` instead of the reference's dict of frames)."""
    with_bucket = df.withColumn(
        "dte_bucket", dte_bucket_col(dte_days(F.col("timestamp"), F.col("expiry")), config)
    ).filter(F.col("dte_bucket").isNotNull())
    return resample_iv(with_bucket, keys=("dte_bucket",), config=config)
