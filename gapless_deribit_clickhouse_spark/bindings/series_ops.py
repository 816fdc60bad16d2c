"""Series-tier bindings: per-key time-series analytics (drawdown,
realized volatility, EWMA), ClickHouse CollapsingMergeTree read
parity, SCD2 dimension history and lag-1 autocorrelation.

All seven carry full DuckDB oracles. Float-parity choices:

- EWMA's oracle is ``list_reduce`` with the constants spelled
  ``CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)`` so DuckDB performs
  the same double subtraction Python's ``1.0 - decay`` does (a
  DECIMAL ``0.1`` literal would be a DIFFERENT double, off by 1 ulp —
  the exact hazard ADVICE r5 flagged on value_histogram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.partitioning import ensure_parallelism
from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.features.timeseries import (
    autocorr_by_key,
    drawdown_stats,
    ewma_by_key,
    realized_vol,
)
from gapless_deribit_clickhouse_spark.operators.dedup import collapse_by_sign
from gapless_deribit_clickhouse_spark.operators.scd import (
    point_in_time_join,
    scd2_history,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_parallelism(load_table(spark, sf_dir, "events"))


# --- peak-to-trough drawdown per user series ---
def drawdown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drawdown_stats(
        _events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value"
    )


DRAWDOWN_SQL = """
WITH p AS (
  SELECT user_id, value,
         max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM events),
dd AS (
  SELECT user_id, value,
         CASE WHEN peak > 0 THEN value / peak - 1.0 END AS d
  FROM p)
SELECT user_id, count(*) AS n_events, max(value) AS peak_value,
       min(d) AS max_drawdown
FROM dd GROUP BY user_id
"""


# --- realized volatility per (user, day) from intraday log returns ---
def realized_vol_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return realized_vol(ev, ["user_id"], "day", ["ts", "event_id"], "value")


REALIZED_VOL_SQL = """
WITH l AS (
  SELECT user_id, date_trunc('day', ts) AS day, value,
         lag(value) OVER (PARTITION BY user_id, date_trunc('day', ts)
                          ORDER BY ts, event_id) AS prev
  FROM events),
r AS (
  SELECT user_id, day,
         CASE WHEN value > 0 AND prev > 0 THEN ln(value / prev) END AS lr
  FROM l)
SELECT user_id, day, count(lr) AS n_returns,
       sqrt(sum(lr * lr)) AS realized_vol
FROM r GROUP BY user_id, day
"""


# --- EWMA final state per user (RiskMetrics lambda filter) ---
def ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_by_key(
        _events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value", decay=0.9
    )


EWMA_SQL = """
WITH s AS (
  SELECT user_id, count(*) AS n_events,
         list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id)
SELECT user_id, n_events,
       list_reduce(vs, (acc, x) -> acc * CAST(0.9 AS DOUBLE)
                   + x * (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))) AS ewma_value
FROM s
"""


# --- CollapsingMergeTree read parity: signed ledger collapse ---
def collapsing_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.from_json(F.col("props"), "k INT")["k"].alias("k"),
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(-1).alias("sign"),
    )
    return collapse_by_sign(ev, ["user_id", "k"], "sign", ["ts", "event_id"])


COLLAPSING_MERGE_SQL = """
WITH s AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS INT) AS k, ts, event_id,
         value, CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM events),
w AS (
  SELECT *, CAST(sum(sign) OVER (PARTITION BY user_id, k) AS BIGINT) AS net,
         row_number() OVER (PARTITION BY user_id, k
                            ORDER BY ts DESC, event_id DESC, value DESC) AS rn
  FROM s)
SELECT user_id, k, ts, event_id, value, net FROM w WHERE rn = 1 AND net > 0
"""


# --- SCD2 history from the event change log ---
def scd2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.from_json(F.col("props"), "k INT")["k"].alias("k"),
        "ts",
        "event_id",
    )
    return scd2_history(ev, ["user_id"], ["ts", "event_id"], ["k"], ts_col="ts")


SCD2_SQL = """
WITH s AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS INT) AS k, ts, event_id
  FROM events),
m AS (
  SELECT *, CASE WHEN row_number() OVER w = 1
                   OR NOT (k IS NOT DISTINCT FROM lag(k) OVER w)
              THEN 1 ELSE 0 END AS chg
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (SELECT * FROM m WHERE chg = 1)
SELECT user_id, k, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       CAST(row_number() OVER w2 AS INT) AS version,
       lead(ts) OVER w2 IS NULL AS is_current
FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- point-in-time enrichment against the SCD2 history ---
def pit_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hist = scd2_history(
        ev.select(
            "user_id",
            F.from_json(F.col("props"), "k INT")["k"].alias("k"),
            "ts",
            "event_id",
        ),
        ["user_id"],
        ["ts", "event_id"],
        ["k"],
        ts_col="ts",
    )
    facts = ev.select("event_id", "user_id", "ts", "value")
    return point_in_time_join(facts, hist, "ts", ["user_id"]).select(
        "event_id", "user_id", "ts", "value", "k", "version"
    )


PIT_ENRICH_SQL = """
WITH s AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS INT) AS k, ts, event_id
  FROM events),
m AS (
  SELECT *, CASE WHEN row_number() OVER w = 1
                   OR NOT (k IS NOT DISTINCT FROM lag(k) OVER w)
              THEN 1 ELSE 0 END AS chg
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (SELECT * FROM m WHERE chg = 1),
hist AS (
  SELECT user_id, k, ts AS valid_from,
         lead(ts) OVER w2 AS valid_to,
         CAST(row_number() OVER w2 AS INT) AS version
  FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e.event_id, e.user_id, e.ts, e.value, h.k, h.version
FROM events e JOIN hist h
  ON e.user_id = h.user_id
 AND h.valid_from <= e.ts
 AND (h.valid_to IS NULL OR e.ts < h.valid_to)
"""


# --- lag-1 autocorrelation per user series ---
def autocorr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return autocorr_by_key(
        _events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value"
    )


# corr is the sample Pearson coefficient in both engines; Spark's
# zero-variance NaN is normalized to NULL engine-side, matching
# DuckDB's NULL.
AUTOCORR_SQL = """
WITH l AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events)
SELECT user_id, count(*) AS n_pairs, corr(value, prev) AS autocorr
FROM l WHERE prev IS NOT NULL GROUP BY user_id
"""


BINDINGS = [
    ("drawdown_stats", drawdown_q, DRAWDOWN_SQL),
    ("realized_vol_daily", realized_vol_q, REALIZED_VOL_SQL),
    ("ewma_by_user", ewma_q, EWMA_SQL),
    ("collapsing_merge", collapsing_merge_q, COLLAPSING_MERGE_SQL),
    ("scd2_history", scd2_q, SCD2_SQL),
    ("pit_enrich", pit_enrich_q, PIT_ENRICH_SQL),
    ("value_autocorr", autocorr_q, AUTOCORR_SQL),
]
