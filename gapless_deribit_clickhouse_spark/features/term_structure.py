"""IV term-structure slope and ratio.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
term_structure.py:19-173`` — builds near (dte<=30) and far (dte>=60)
pandas series, inner-aligns on the resampled index, then slope/ratio.

Spark design: the "alignment join" (SURVEY §2.3 J4) disappears — one
groupBy computes both legs as conditional averages, and requiring both
non-null IS the inner alignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.config import DEFAULT, FeatureConfig
from gapless_deribit_clickhouse_spark.functions.conditional import avg_if, safe_div
from gapless_deribit_clickhouse_spark.functions.timeutils import dte_days, time_bucket


def term_structure(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    """Per window: near/far mean IV, slope (near − far), ratio
    (near / nullif(far, 0)); windows lacking either leg are dropped
    (the reference's dropna after alignment, term_structure.py:93-94)."""
    dte = dte_days(F.col("timestamp"), F.col("expiry"))
    iv = F.col("iv")
    out = (
        df.filter(iv > 0)
        .groupBy(time_bucket(F.col("timestamp"), config.resample_seconds).alias("ts"))
        .agg(
            avg_if(dte <= config.near_dte_max, iv).alias("near_iv"),
            avg_if(dte >= config.far_dte_min, iv).alias("far_iv"),
        )
        .filter(F.col("near_iv").isNotNull() & F.col("far_iv").isNotNull())
    )
    return out.select(
        "ts",
        "near_iv",
        "far_iv",
        (F.col("near_iv") - F.col("far_iv")).alias("ts_slope"),
        safe_div(F.col("near_iv"), F.col("far_iv")).alias("ts_ratio"),
    )


def term_structure_slope(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    return term_structure(df, config).select("ts", "near_iv", "far_iv", "ts_slope")


def term_structure_ratio(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    return term_structure(df, config).select("ts", "near_iv", "far_iv", "ts_ratio")
