"""Analytics-tier bindings: Black-Scholes Greeks (pure Catalyst
columns), event-time rolling percentile/rank (W2/W3), per-DTE-bucket
resample (A6). The rolling series uses integer bucket counts as the
value so both engines compare EXACT numbers (no float-summation-order
sensitivity in the <=/min/max comparisons)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.bindings.common import TRADES_CTE, bucket_sql, trades_view
from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.features.config import dte_bucket_case_sql
from gapless_deribit_clickhouse_spark.features.resampler import resample_by_dte_bucket
from gapless_deribit_clickhouse_spark.functions.blackscholes import greeks_sql_exprs, with_greeks
from gapless_deribit_clickhouse_spark.functions.timeutils import time_bucket
from gapless_deribit_clickhouse_spark.operators.rolling import (
    rolling_minmax_rank,
    rolling_percentile_rank,
)

YEAR_SECONDS = 365.25 * 24 * 3600.0


# --- Greeks (SURVEY §2.8 Financial; zero UDFs, whole-stage codegen) ---
def greeks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_greeks(
        # parallel: single-split scan + heavy CDF trees (optimization r12)
        trades_view(spark, sf_dir, parallel=True),
        spot_col="index_price",
    )
    return out.select(
        "trade_id", "option_type", "strike", "iv", "t_years",
        "delta", "gamma", "vega", "theta", "adjusted_delta",
    )


def _greeks_oracle() -> str:
    t_years = f'((epoch(CAST(expiry AS TIMESTAMP)) - epoch("timestamp")) / {YEAR_SECONDS!r})'
    exprs = greeks_sql_exprs(spot="index_price")
    greek_cols = ",\n       ".join(f"{sql} AS {name}" for name, sql in exprs.items())
    return f"""
WITH trades AS ({TRADES_CTE}),
base AS (SELECT *, {t_years} AS t_years FROM trades)
SELECT trade_id, option_type, strike, iv, t_years,
       {greek_cols}
FROM base
"""


GREEKS_SQL = _greeks_oracle()


# --- hourly count series per event_type (shared by W2/W3 bindings) ---
def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", time_bucket(F.col("ts"), 3600).alias("bts")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))


_SERIES_SQL = f"""
SELECT event_type, {bucket_sql('ts', 3600)} AS bts, CAST(count(*) AS DOUBLE) AS v
FROM events GROUP BY 1, 2
"""


# --- W2: trailing event-time percentile rank (range window) ---
def rolling_percentile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_percentile_rank(
        _series(spark, sf_dir),
        ts_col="bts",
        value_col="v",
        keys=["event_type"],
        lookback_seconds=7 * 86400,
        min_periods=4,
        out_col="pct_rank",
    )


ROLLING_PERCENTILE_SQL = f"""
WITH s AS ({_SERIES_SQL})
SELECT l.event_type, l.bts, l.v,
       CASE WHEN count(*) >= 4
            THEN 100.0 * count(CASE WHEN r.v <= l.v THEN 1 END) / count(*)
       END AS pct_rank
FROM s l
JOIN s r
  ON r.event_type = l.event_type
 AND r.bts >= l.bts - INTERVAL 7 DAY
 AND r.bts <= l.bts
GROUP BY l.event_type, l.bts, l.v
"""


# --- W3: trailing min-max rank (pure rangeBetween window) ---
def rolling_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_minmax_rank(
        _series(spark, sf_dir),
        ts_col="bts",
        value_col="v",
        keys=["event_type"],
        lookback_seconds=7 * 86400,
        min_periods=4,
        out_col="minmax_rank",
        # opt into the bucket-parallel window: event_type has single-
        # digit cardinality, so the key-only window would cap at a
        # handful of tasks at any scale
        bucket_seconds=7 * 86400,
    )


ROLLING_RANK_SQL = f"""
WITH s AS ({_SERIES_SQL}),
w AS (
  SELECT event_type, bts, v,
         min(v) OVER win AS lo,
         max(v) OVER win AS hi,
         count(v) OVER win AS cnt
  FROM s
  WINDOW win AS (PARTITION BY event_type ORDER BY epoch(bts)
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW))
SELECT event_type, bts, v,
       CASE WHEN cnt >= 4 THEN (v - lo) / nullif(hi - lo, 0) * 100.0 END AS minmax_rank
FROM w
"""


# --- A6: per-DTE-bucket OHLC resample in one pass ---
def resample_dte_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample_by_dte_bucket(trades_view(spark, sf_dir))


_DTE = 'date_diff(\'day\', CAST("timestamp" AS DATE), expiry)'
# Generated from config DEFAULT_DTE_BUCKETS — same source the Spark
# combinators read, so engine and oracle cannot silently diverge.
_DTE_BUCKET = dte_bucket_case_sql(_DTE)

RESAMPLE_DTE_SQL = f"""
WITH trades AS ({TRADES_CTE}),
base AS (
  SELECT {bucket_sql('"timestamp"')} AS bucket_ts, {_DTE_BUCKET} AS dte_bucket,
         "timestamp" AS ts, trade_id, iv, amount
  FROM trades WHERE iv IS NOT NULL AND {_DTE_BUCKET} IS NOT NULL),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY dte_bucket, bucket_ts ORDER BY ts, trade_id) AS rn_a,
         row_number() OVER (PARTITION BY dte_bucket, bucket_ts ORDER BY ts DESC, trade_id DESC) AS rn_d
  FROM base)
SELECT bucket_ts, dte_bucket,
       max(CASE WHEN rn_a = 1 THEN iv END) AS iv_open,
       max(iv) AS iv_high,
       min(iv) AS iv_low,
       max(CASE WHEN rn_d = 1 THEN iv END) AS iv_close,
       sum(amount) AS volume,
       count(iv) AS n_obs
FROM ranked
GROUP BY bucket_ts, dte_bucket
"""


BINDINGS = [
    ("greeks", greeks_q, GREEKS_SQL),
    ("rolling_percentile", rolling_percentile_q, ROLLING_PERCENTILE_SQL),
    ("rolling_minmax_rank", rolling_rank_q, ROLLING_RANK_SQL),
    ("resample_by_dte_bucket", resample_dte_q, RESAMPLE_DTE_SQL),
]
