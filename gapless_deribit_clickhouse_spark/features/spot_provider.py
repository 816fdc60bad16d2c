"""Spot-price enrichment: broadcast dimension join + hybrid fallback.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
spot_provider.py:43-141`` — a ClickHouse ``dictGet`` hash lookup keyed
on (symbol, 15-min bucket) with a LEFT-JOIN fallback when the
dictionary is absent, then ``spot_price = coalesce(index_price,
binance_spot)`` and ``moneyness = strike / spot_price``.

Spark design: ONE implementation — a broadcast left equi-join. The
spot dimension (15-min bars, ~2M rows/yr per the reference's own
sizing, spot_prices_dict.sql:33) is megabytes — broadcast to every
executor, the fact table never shuffles. This IS Spark's dictGet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.config import DEFAULT, FeatureConfig
from gapless_deribit_clickhouse_spark.functions.conditional import safe_div
from gapless_deribit_clickhouse_spark.functions.timeutils import time_bucket

# reference spot_provider.py:37-40
UNDERLYING_TO_SYMBOL = {"BTC": "BTCUSDT", "ETH": "ETHUSDT"}


def symbol_col(underlying):  # Column -> Column
    expr = None
    for k, v in UNDERLYING_TO_SYMBOL.items():
        expr = F.when(underlying == k, F.lit(v)) if expr is None else expr.when(
            underlying == k, F.lit(v)
        )
    return expr.otherwise(F.concat(underlying, F.lit("USDT")))


def enrich_with_spot(
    trades: DataFrame,
    spot: DataFrame,
    config: FeatureConfig = DEFAULT,
) -> DataFrame:
    """Left-join trades to the spot dimension on (symbol, 15-min
    bucket); output adds ``binance_spot``, ``spot_price`` (hybrid
    coalesce), ``moneyness`` (null where ``spot_price`` is 0).

    The spot side is pre-bucketed + deduplicated (one close per key,
    latest wins) then broadcast.
    """
    dim = (
        spot.select(
            F.col("symbol").alias("__sym"),
            time_bucket(F.col("timestamp"), config.resample_seconds).alias("__w"),
            F.col("close").alias("binance_spot"),
            F.col("timestamp").alias("__sts"),
        )
        .groupBy("__sym", "__w")
        .agg(F.max_by("binance_spot", F.col("__sts")).alias("binance_spot"))
    )
    # batched construction (optimization r12): the former 4-withColumn
    # + drop chain cost six analysis passes per call over the widest
    # frames in the feature tier; same expressions, two projections.
    # The select("*", ...) form APPENDS — fail loudly on a name clash
    # the old withColumn form would have silently overwritten
    # (ADVICE r12).
    clash = [
        c
        for c in ("__sym", "__w", "binance_spot", "spot_price", "moneyness")
        if c in trades.columns
    ]
    if clash:
        raise ValueError(
            f"enrich_with_spot: input already carries column(s) {clash}; "
            "drop or rename them before enriching"
        )
    joined = trades.select(
        "*",
        symbol_col(F.col("underlying")).alias("__sym"),
        time_bucket(F.col("timestamp"), config.resample_seconds).alias("__w"),
    )
    out = joined.join(F.broadcast(dim), on=["__sym", "__w"], how="left")
    spot_price = F.coalesce(F.col("index_price"), F.col("binance_spot"))
    return out.select(
        *[c for c in out.columns if c not in ("__sym", "__w")],
        spot_price.alias("spot_price"),
        safe_div(F.col("strike"), spot_price).alias("moneyness"),
    )


def ensure_spot_dictionary(
    spark,
    table: str = "ohlcv",
    path: str | None = None,
) -> bool:
    """Reference-parity capability probe (infrastructure.py:40-103 +
    spot_provider.py:294-310): the reference maintains a ClickHouse
    hash dictionary for spot lookups and auto-creates it when absent.
    Spark's equivalent of the dictionary is simply the broadcast
    dimension, so "ensuring" it means: the spot table is registered in
    the catalog (registering it from ``path`` when given).
    Returns True iff the dimension is queryable; callers that get
    False fall back to index_price-only enrichment — the same dual
    path the reference exposes via ``use_dict``."""
    if spark.catalog.tableExists(table):
        return True
    if path is not None:
        try:
            spark.read.parquet(path).createOrReplaceTempView(table)
            return True
        except Exception:  # unreadable path -> capability absent
            return False
    return False


def spot_coverage(enriched: DataFrame) -> DataFrame:
    """Coverage-rate diagnostics after enrichment (reference
    spot_provider.py:313-364): index-price rate, fallback rate, total
    coalesce rate — one aggregate pass. The rates are null on an empty
    frame."""
    n = F.count(F.lit(1))
    has_idx = F.count(F.when(F.col("index_price").isNotNull(), F.lit(1)))
    has_fb = F.count(
        F.when(F.col("index_price").isNull() & F.col("binance_spot").isNotNull(), F.lit(1))
    )
    has_spot = F.count(F.when(F.col("spot_price").isNotNull(), F.lit(1)))
    return enriched.agg(
        n.alias("total_rows"),
        safe_div(has_idx.cast("double"), n).alias("index_price_rate"),
        safe_div(has_fb.cast("double"), n).alias("fallback_rate"),
        safe_div(has_spot.cast("double"), n).alias("spot_coverage_rate"),
    )
