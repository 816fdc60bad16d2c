"""Domain feature operators (SURVEY §2.2-§2.6) bound to the derived
trades view: moneyness pivot, PCR, term structure, DTE buckets,
contract selection, spot enrichment, quality metrics, gap analysis."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.bindings.common import (
    SPOT_CTE,
    TRADES_CTE,
    bucket_sql,
    spot_view,
    trades_view,
)
from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.features.config import dte_bucket_case_sql
from gapless_deribit_clickhouse_spark.features.contract_selector import select_contracts
from gapless_deribit_clickhouse_spark.features.dte_buckets import dte_bucket_agg, dte_distribution
from gapless_deribit_clickhouse_spark.features.moneyness import aggregate_by_moneyness
from gapless_deribit_clickhouse_spark.features.pcr import pcr_aggregate, pcr_by_tenor
from gapless_deribit_clickhouse_spark.features.spot_provider import enrich_with_spot
from gapless_deribit_clickhouse_spark.features.term_structure import term_structure
from gapless_deribit_clickhouse_spark.validation.quality import (
    coverage_by_group,
    gap_analysis,
    quality_metrics,
)

_B = bucket_sql('"timestamp"')

_MONEYNESS_VALID = f"""
SELECT {_B} AS ts, strike / index_price AS m, iv, amount, option_type,
       CASE WHEN strike / index_price < 0.90 THEN 'deep_otm_put'
            WHEN strike / index_price < 0.95 THEN 'otm_put'
            WHEN strike / index_price < 1.05 THEN 'atm'
            WHEN strike / index_price < 1.10 THEN 'otm_call'
            ELSE 'deep_otm_call' END AS bucket
FROM trades
WHERE strike / index_price > 0 AND iv > 0
"""

_DTE = 'date_diff(\'day\', CAST("timestamp" AS DATE), expiry)'

# Generated from the SAME bucket list the Spark combinators read
# (features/config.py DEFAULT_DTE_BUCKETS) — config change cannot
# silently diverge engine vs oracle.
_DTE_BUCKET = dte_bucket_case_sql(_DTE)


def _with_moneyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trades_view(spark, sf_dir).withColumn(
        "moneyness", F.col("strike") / F.col("index_price")
    )


# --- A2/F10: single-pass conditional pivot + smile metrics ---
def moneyness_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregate_by_moneyness(_with_moneyness(spark, sf_dir), pivot=True)


MONEYNESS_PIVOT_SQL = f"""
WITH trades AS ({TRADES_CTE}),
valid AS ({_MONEYNESS_VALID}),
wide AS (
  SELECT ts,
         avg(CASE WHEN bucket = 'deep_otm_put' THEN iv END) AS deep_otm_put_iv,
         count(CASE WHEN bucket = 'deep_otm_put' THEN 1 END) AS deep_otm_put_count,
         avg(CASE WHEN bucket = 'otm_put' THEN iv END) AS otm_put_iv,
         count(CASE WHEN bucket = 'otm_put' THEN 1 END) AS otm_put_count,
         avg(CASE WHEN bucket = 'atm' THEN iv END) AS atm_iv,
         count(CASE WHEN bucket = 'atm' THEN 1 END) AS atm_count,
         stddev_pop(CASE WHEN bucket = 'atm' THEN iv END) AS atm_iv_std,
         sum(CASE WHEN bucket = 'atm' THEN amount END) AS atm_volume,
         avg(CASE WHEN bucket = 'otm_call' THEN iv END) AS otm_call_iv,
         count(CASE WHEN bucket = 'otm_call' THEN 1 END) AS otm_call_count,
         avg(CASE WHEN bucket = 'deep_otm_call' THEN iv END) AS deep_otm_call_iv,
         count(CASE WHEN bucket = 'deep_otm_call' THEN 1 END) AS deep_otm_call_count
  FROM valid GROUP BY ts HAVING count(CASE WHEN bucket = 'atm' THEN 1 END) > 0)
SELECT *,
       otm_put_iv - otm_call_iv AS put_call_skew,
       (otm_put_iv + otm_call_iv) / 2 - atm_iv AS smile_curvature,
       deep_otm_put_iv / nullif(deep_otm_call_iv, 0) AS wing_ratio
FROM wide
"""


# --- A3: long-format bucket aggregation ---
def moneyness_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregate_by_moneyness(_with_moneyness(spark, sf_dir), pivot=False)


MONEYNESS_LONG_SQL = f"""
WITH trades AS ({TRADES_CTE}),
valid AS ({_MONEYNESS_VALID})
SELECT ts, bucket AS moneyness_bucket,
       avg(iv) AS avg_iv,
       stddev_pop(iv) AS std_iv,
       count(*) AS trade_count,
       sum(amount) AS total_volume,
       count(CASE WHEN option_type = 'C' THEN 1 END) AS call_count,
       count(CASE WHEN option_type = 'P' THEN 1 END) AS put_count
FROM valid GROUP BY ts, bucket
"""


# --- A9/J5: put/call ratio by tenor + aggregate ---
def pcr_tenor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pcr_by_tenor(trades_view(spark, sf_dir))


PCR_TENOR_SQL = f"""
WITH trades AS ({TRADES_CTE})
SELECT {_B} AS ts, {_DTE_BUCKET} AS dte_bucket,
       coalesce(sum(CASE WHEN option_type = 'P' THEN amount END), 0.0) AS put_volume,
       coalesce(sum(CASE WHEN option_type = 'C' THEN amount END), 0.0) AS call_volume,
       coalesce(sum(CASE WHEN option_type = 'P' THEN amount END), 0.0)
         / nullif(coalesce(sum(CASE WHEN option_type = 'C' THEN amount END), 0.0), 0) AS pcr
FROM trades
WHERE {_DTE} <= 365 AND {_DTE_BUCKET} IS NOT NULL
GROUP BY 1, 2
"""


def pcr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pcr_aggregate(trades_view(spark, sf_dir), method="count")


PCR_AGG_SQL = f"""
WITH trades AS ({TRADES_CTE})
SELECT {_B} AS ts,
       coalesce(CAST(count(CASE WHEN option_type = 'P' THEN 1 END) AS DOUBLE), 0.0) AS put_volume,
       coalesce(CAST(count(CASE WHEN option_type = 'C' THEN 1 END) AS DOUBLE), 0.0) AS call_volume,
       CAST(count(CASE WHEN option_type = 'P' THEN 1 END) AS DOUBLE)
         / nullif(CAST(count(CASE WHEN option_type = 'C' THEN 1 END) AS DOUBLE), 0) AS pcr
FROM trades
WHERE {_DTE} <= 365
GROUP BY 1
"""


# --- A10/J4: term-structure slope + ratio ---
def term_structure_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_structure(trades_view(spark, sf_dir))


TERM_STRUCTURE_SQL = f"""
WITH trades AS ({TRADES_CTE}),
agg AS (
  SELECT {_B} AS ts,
         avg(CASE WHEN {_DTE} <= 30 THEN iv END) AS near_iv,
         avg(CASE WHEN {_DTE} >= 60 THEN iv END) AS far_iv
  FROM trades WHERE iv > 0
  GROUP BY 1)
SELECT ts, near_iv, far_iv,
       near_iv - far_iv AS ts_slope,
       near_iv / nullif(far_iv, 0) AS ts_ratio
FROM agg
WHERE near_iv IS NOT NULL AND far_iv IS NOT NULL
"""


# --- A7: per-DTE-bucket metric aggregation ---
def dte_bucket_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dte_bucket_agg(trades_view(spark, sf_dir))


DTE_BUCKET_AGG_SQL = f"""
WITH trades AS ({TRADES_CTE})
SELECT {_B} AS ts, {_DTE_BUCKET} AS dte_bucket,
       avg(iv) AS iv_mean,
       stddev_pop(iv) AS iv_std,
       sum(amount) AS volume_sum,
       count(*) AS trade_count,
       avg(price) AS price_mean
FROM trades
WHERE {_DTE_BUCKET} IS NOT NULL
GROUP BY 1, 2
"""


# --- A8: volume distribution (% of window total) ---
def dte_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dte_distribution(trades_view(spark, sf_dir))


DTE_DISTRIBUTION_SQL = f"""
WITH trades AS ({TRADES_CTE}),
agg AS (
  SELECT {_B} AS ts, {_DTE_BUCKET} AS dte_bucket, sum(amount) AS volume_sum
  FROM trades
  WHERE {_DTE_BUCKET} IS NOT NULL
  GROUP BY 1, 2)
SELECT ts, dte_bucket, volume_sum,
       volume_sum / sum(volume_sum) OVER (PARTITION BY ts) * 100.0 AS volume_pct
FROM agg
"""


# --- A1/F5/J3: contract selection (front_month + atm + liquidity) ---
# expiry cast to timestamp in driver-facing output (DATE surfaces as
# python date objects in Spark's toPandas vs datetime64 in DuckDB's).
_TRADES_COLS_NO_UNDERLYING = (
    'trade_id, instrument_name, "timestamp", price, amount, direction, iv, '
    "index_price, mark_price, CAST(expiry AS TIMESTAMP) AS expiry, strike, option_type"
)


def _expiry_ts(df: DataFrame) -> DataFrame:
    return df.withColumn("expiry", F.col("expiry").cast("timestamp"))


def front_month_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _expiry_ts(select_contracts(trades_view(spark, sf_dir), strategy="front_month"))


FRONT_MONTH_SQL = f"""
WITH trades AS ({TRADES_CTE})
SELECT underlying, {_TRADES_COLS_NO_UNDERLYING}
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {_B}, underlying
    ORDER BY {_DTE}, trade_id) AS rn
  FROM trades) t
WHERE rn = 1
"""


def contract_chain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _expiry_ts(
        select_contracts(trades_view(spark, sf_dir), strategy="front_month_atm_liquid")
    )


CONTRACT_CHAIN_SQL = f"""
WITH trades AS ({TRADES_CTE}),
fm AS (
  SELECT underlying, {_TRADES_COLS_NO_UNDERLYING}
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {_B}, underlying
      ORDER BY {_DTE}, trade_id) AS rn
    FROM trades) t
  WHERE rn = 1),
atm AS (
  SELECT * FROM fm
  WHERE strike / index_price BETWEEN 0.95 AND 1.05)
SELECT underlying, {_TRADES_COLS_NO_UNDERLYING}
FROM (
  SELECT *, sum(amount) OVER (
    PARTITION BY instrument_name, CAST("timestamp" AS DATE)) AS dv
  FROM atm) t
WHERE dv >= 10.0
"""


# --- J1/J2: spot enrichment (broadcast dim join + hybrid coalesce) ---
def enrich_spot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _expiry_ts(enrich_with_spot(trades_view(spark, sf_dir), spot_view(spark, sf_dir)))


ENRICH_SPOT_SQL = f"""
WITH trades AS ({TRADES_CTE}),
spot AS ({SPOT_CTE})
SELECT t.trade_id, t.instrument_name, t."timestamp", t.price, t.amount,
       t.direction, t.iv, t.index_price, t.mark_price, t.underlying,
       CAST(t.expiry AS TIMESTAMP) AS expiry, t.strike, t.option_type,
       s.close AS binance_spot,
       coalesce(t.index_price, s.close) AS spot_price,
       t.strike / coalesce(t.index_price, s.close) AS moneyness
FROM trades t
LEFT JOIN spot s
  ON s.symbol = t.underlying || 'USDT'
 AND s."timestamp" = {bucket_sql('t."timestamp"')}
"""


# --- A11: global quality metrics ---
def quality_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_metrics(trades_view(spark, sf_dir))


QUALITY_METRICS_SQL = f"""
WITH trades AS ({TRADES_CTE})
SELECT count(*) AS total_rows,
       count(DISTINCT trade_id) AS unique_ids,
       CAST(count(DISTINCT trade_id) AS DOUBLE) / count(*) AS dedup_rate,
       min("timestamp") AS min_ts,
       max("timestamp") AS max_ts,
       CAST(CAST(floor(epoch(max("timestamp"))) AS BIGINT)
            - CAST(floor(epoch(min("timestamp"))) AS BIGINT) AS DOUBLE) / 3600.0 AS span_hours,
       CAST(count(*) AS DOUBLE) / greatest(
         CAST(CAST(floor(epoch(max("timestamp"))) AS BIGINT)
              - CAST(floor(epoch(min("timestamp"))) AS BIGINT) AS DOUBLE) / 3600.0, 1e-9) AS rows_per_hour,
       CAST(count(CASE WHEN iv IS NULL OR iv = 0 THEN 1 END) AS DOUBLE) / count(*) AS iv_null_or_zero_rate,
       CAST(count(CASE WHEN index_price IS NULL OR index_price = 0 THEN 1 END) AS DOUBLE) / count(*) AS index_price_null_or_zero_rate
FROM trades
"""


# --- A12: coverage by underlying ---
def coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return coverage_by_group(trades_view(spark, sf_dir))


COVERAGE_SQL = f"""
WITH trades AS ({TRADES_CTE})
SELECT underlying,
       count(*) AS total_rows,
       count(DISTINCT trade_id) AS unique_ids,
       count(DISTINCT instrument_name) AS unique_instruments,
       min("timestamp") AS min_ts,
       max("timestamp") AS max_ts
FROM trades
GROUP BY underlying
"""


# --- W1/O3: gap analysis (lead window + top-N) ---
def gap_analysis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return gap_analysis(ev, ts_col="ts", group_cols=("event_type",), threshold_hours=0.5)


GAP_ANALYSIS_SQL = """
WITH g AS (
  SELECT event_type, ts,
         lead(ts) OVER (PARTITION BY event_type ORDER BY ts) AS gap_end
  FROM events)
SELECT event_type, ts AS gap_start, gap_end,
       (epoch(gap_end) - epoch(ts)) / 3600.0 AS gap_hours
FROM g
WHERE (epoch(gap_end) - epoch(ts)) / 3600.0 > 0.5
ORDER BY gap_hours DESC, gap_start
LIMIT 100
"""


# --- §3.3 flagship composed pipeline: contract selection -> spot
# enrichment -> moneyness pivot, ONE Catalyst plan (the reference
# nests three SQL-template CTE layers and ships one ClickHouse query;
# here the combinators compose as functions and Catalyst fuses them) ---
def feature_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sel = select_contracts(
        trades_view(spark, sf_dir), strategy="front_month_atm_liquid"
    )
    enr = enrich_with_spot(sel, spot_view(spark, sf_dir))
    return aggregate_by_moneyness(enr, pivot=True)


FEATURE_PIPELINE_SQL = f"""
WITH trades AS ({TRADES_CTE}),
spot AS ({SPOT_CTE}),
fm AS (
  SELECT underlying, {_TRADES_COLS_NO_UNDERLYING}
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {_B}, underlying
      ORDER BY {_DTE}, trade_id) AS rn
    FROM trades) t
  WHERE rn = 1),
atm AS (
  SELECT * FROM fm
  WHERE strike / index_price BETWEEN 0.95 AND 1.05),
liq AS (
  SELECT * FROM (
    SELECT *, sum(amount) OVER (
      PARTITION BY instrument_name, CAST("timestamp" AS DATE)) AS dv
    FROM atm) t
  WHERE dv >= 10.0),
enriched AS (
  SELECT t.*, coalesce(t.index_price, s.close) AS spot_price,
         t.strike / coalesce(t.index_price, s.close) AS moneyness
  FROM liq t
  LEFT JOIN spot s
    ON s.symbol = t.underlying || 'USDT'
   AND s."timestamp" = {bucket_sql('t."timestamp"')}),
valid AS (
  SELECT {_B} AS ts, iv, amount, option_type,
         CASE WHEN moneyness < 0.90 THEN 'deep_otm_put'
              WHEN moneyness < 0.95 THEN 'otm_put'
              WHEN moneyness < 1.05 THEN 'atm'
              WHEN moneyness < 1.10 THEN 'otm_call'
              ELSE 'deep_otm_call' END AS bucket
  FROM enriched
  WHERE moneyness > 0 AND iv > 0),
wide AS (
  SELECT ts,
         avg(CASE WHEN bucket = 'deep_otm_put' THEN iv END) AS deep_otm_put_iv,
         count(CASE WHEN bucket = 'deep_otm_put' THEN 1 END) AS deep_otm_put_count,
         avg(CASE WHEN bucket = 'otm_put' THEN iv END) AS otm_put_iv,
         count(CASE WHEN bucket = 'otm_put' THEN 1 END) AS otm_put_count,
         avg(CASE WHEN bucket = 'atm' THEN iv END) AS atm_iv,
         count(CASE WHEN bucket = 'atm' THEN 1 END) AS atm_count,
         stddev_pop(CASE WHEN bucket = 'atm' THEN iv END) AS atm_iv_std,
         sum(CASE WHEN bucket = 'atm' THEN amount END) AS atm_volume,
         avg(CASE WHEN bucket = 'otm_call' THEN iv END) AS otm_call_iv,
         count(CASE WHEN bucket = 'otm_call' THEN 1 END) AS otm_call_count,
         avg(CASE WHEN bucket = 'deep_otm_call' THEN iv END) AS deep_otm_call_iv,
         count(CASE WHEN bucket = 'deep_otm_call' THEN 1 END) AS deep_otm_call_count
  FROM valid GROUP BY ts HAVING count(CASE WHEN bucket = 'atm' THEN 1 END) > 0)
SELECT *,
       otm_put_iv - otm_call_iv AS put_call_skew,
       (otm_put_iv + otm_call_iv) / 2 - atm_iv AS smile_curvature,
       deep_otm_put_iv / nullif(deep_otm_call_iv, 0) AS wing_ratio
FROM wide
"""


BINDINGS = [
    ("moneyness_pivot", moneyness_pivot, MONEYNESS_PIVOT_SQL),
    ("feature_pipeline", feature_pipeline_q, FEATURE_PIPELINE_SQL),
    ("moneyness_long", moneyness_long, MONEYNESS_LONG_SQL),
    ("pcr_by_tenor", pcr_tenor, PCR_TENOR_SQL),
    ("pcr_aggregate", pcr_agg, PCR_AGG_SQL),
    ("term_structure", term_structure_q, TERM_STRUCTURE_SQL),
    ("dte_bucket_agg", dte_bucket_agg_q, DTE_BUCKET_AGG_SQL),
    ("dte_distribution", dte_distribution_q, DTE_DISTRIBUTION_SQL),
    ("front_month_select", front_month_q, FRONT_MONTH_SQL),
    ("contract_chain_select", contract_chain_q, CONTRACT_CHAIN_SQL),
    ("enrich_with_spot", enrich_spot_q, ENRICH_SPOT_SQL),
    ("quality_metrics", quality_metrics_q, QUALITY_METRICS_SQL),
    ("coverage_by_underlying", coverage_q, COVERAGE_SQL),
    ("gap_analysis", gap_analysis_q, GAP_ANALYSIS_SQL),
]
