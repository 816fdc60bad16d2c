"""Shared binding helpers: the deterministic options-trades view.

The query registry runs over the generic testdata tables, so
the domain operators (moneyness, PCR, term structure, ...) are
exercised on a trades-shaped view DERIVED from ``events`` with pure
deterministic arithmetic — the same expressions evaluated by Spark
(``trades_view``) and by DuckDB (``TRADES_CTE``), so oracle comparison
tests the OPERATOR, not the synthesis.

Shape mirrors the reference fact table
(``/root/reference/schema/clickhouse/options_trades.yaml:49-189``):
trade_id, instrument_name, timestamp, price, amount, direction, iv,
index_price (nullable), mark_price, underlying, expiry, strike,
option_type. dte = user_id % 120 by construction, so every DTE bucket
and both term-structure legs are populated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gapless_deribit_clickhouse_spark.core.tables import load_table

# 15-minute bucket, DuckDB side (naive UTC timestamp).
BUCKET_SQL = 'epoch_ms(((CAST(floor(epoch({ts})) AS BIGINT) // {step}) * {step}) * 1000)'


def bucket_sql(ts: str, step: int = 900) -> str:
    return BUCKET_SQL.format(ts=ts, step=step)


_DERIVE = [
    ("CAST(event_id AS STRING) AS trade_id", "CAST(event_id AS VARCHAR) AS trade_id"),
    (
        "concat(CASE WHEN user_id % 2 = 0 THEN 'BTC' ELSE 'ETH' END, '-I', CAST(event_id % 40 AS STRING)) AS instrument_name",
        "(CASE WHEN user_id % 2 = 0 THEN 'BTC' ELSE 'ETH' END) || '-I' || CAST(event_id % 40 AS VARCHAR) AS instrument_name",
    ),
    ("ts AS timestamp", 'ts AS "timestamp"'),
    ("value / 1000.0 + 0.01 AS price", "value / 1000.0 + 0.01 AS price"),
    ("value / 20.0 + 0.1 AS amount", "value / 20.0 + 0.1 AS amount"),
    (
        "CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS direction",
        "CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS direction",
    ),
    # Spark parses bare decimal literals as DecimalType; 'D' suffix
    # forces DoubleType so the schema matches DuckDB's DOUBLE.
    ("0.4D + (event_id % 100) / 250.0D AS iv", "0.4 + (event_id % 100) / 250.0 AS iv"),
    (
        "CASE WHEN event_id % 7 = 0 THEN NULL ELSE 100000.0 + (value - 50.0) * 40.0 END AS index_price",
        "CASE WHEN event_id % 7 = 0 THEN NULL ELSE 100000.0 + (value - 50.0) * 40.0 END AS index_price",
    ),
    ("value / 1000.0 + 0.009 AS mark_price", "value / 1000.0 + 0.009 AS mark_price"),
    (
        "CASE WHEN user_id % 2 = 0 THEN 'BTC' ELSE 'ETH' END AS underlying",
        "CASE WHEN user_id % 2 = 0 THEN 'BTC' ELSE 'ETH' END AS underlying",
    ),
    (
        "date_add(CAST(ts AS DATE), CAST(user_id % 120 AS INT)) AS expiry",
        "CAST(ts AS DATE) + CAST(user_id % 120 AS INTEGER) AS expiry",
    ),
    ("(90 + (event_id % 21)) * 1000.0D AS strike", "(90 + (event_id % 21)) * 1000.0 AS strike"),
    (
        "CASE WHEN event_id % 3 = 0 THEN 'P' ELSE 'C' END AS option_type",
        "CASE WHEN event_id % 3 = 0 THEN 'P' ELSE 'C' END AS option_type",
    ),
]

# DuckDB CTE body deriving the trades view from events.
TRADES_CTE = "SELECT " + ",\n       ".join(d for _, d in _DERIVE) + "\nFROM events"

# Spot dimension: 15-min close per symbol, derived from events.
SPOT_CTE = f"""
SELECT CASE WHEN user_id % 2 = 0 THEN 'BTCUSDT' ELSE 'ETHUSDT' END AS symbol,
       {bucket_sql('ts')} AS "timestamp",
       avg(value) * 40.0 + 98000.0 AS close
FROM events
GROUP BY 1, 2
"""


def trades_view(
    spark: SparkSession, sf_dir: str, parallel: bool = False
) -> DataFrame:
    """``parallel=True`` round-robin-repartitions the RAW events scan
    to core count before the derive projection (optimization r12,
    guide §2.5 input skew / §1.2 step 1): the sf testdata parquet is a
    single row group, so the scan is ONE split and every downstream
    per-row expression tree (Black-Scholes CDFs, regex parse) runs
    single-threaded. The repartition shuffles the narrow RAW columns
    once and is a no-op at scale (``ensure_parallelism`` keeps
    existing splits when there are enough). Opt-in per binding:
    map-heavy consumers take it; cheap aggregations skip the extra
    exchange."""
    ev = load_table(spark, sf_dir, "events")
    if parallel:
        from gapless_deribit_clickhouse_spark.core.partitioning import (
            ensure_parallelism,
        )

        ev = ensure_parallelism(ev)
    return ev.selectExpr(*[s for s, _ in _DERIVE])


def spot_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gapless_deribit_clickhouse_spark.functions.timeutils import time_bucket

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.when(F.col("user_id") % 2 == 0, F.lit("BTCUSDT"))
            .otherwise(F.lit("ETHUSDT"))
            .alias("symbol"),
            time_bucket(F.col("ts"), 900).alias("timestamp"),
        )
        .agg((F.avg("value") * 40.0 + 98000.0).alias("close"))
    )
