"""Mining-tier bindings over ``events``: co-occurrence association
analysis and touch attribution.

- event_cooccurrence: market-basket association over (user, event
  type) — exact integer supports, Jaccard and lift as final double
  divisions, so the 6dp compare has no rank/threshold hazards.

Each carries a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gapless_deribit_clickhouse_spark.core.partitioning import ensure_parallelism
from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.operators.cooccurrence import (
    cooccurrence_stats,
)


def event_cooccurrence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return cooccurrence_stats(ev, "user_id", "event_type")


EVENT_COOCCURRENCE_SQL = """
WITH g AS (SELECT DISTINCT user_id, event_type FROM events),
c AS (SELECT event_type, count(*) AS n FROM g GROUP BY 1),
t AS (SELECT count(DISTINCT user_id) AS n_groups FROM g),
p AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
         count(*) AS n_both
  FROM g a JOIN g b ON a.user_id = b.user_id
                   AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT item_a, item_b, ca.n AS n_a, cb.n AS n_b, n_both,
       n_both / (ca.n + cb.n - n_both) AS jaccard,
       (n_both * t.n_groups) / (ca.n * cb.n) AS lift
FROM p
JOIN c ca ON p.item_a = ca.event_type
JOIN c cb ON p.item_b = cb.event_type
CROSS JOIN t
"""


def attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gapless_deribit_clickhouse_spark.operators.attribution import (
        attribution_last_touch,
    )

    return attribution_last_touch(ensure_parallelism(load_table(spark, sf_dir, "events")))


# Verbatim transliteration: same ROWS frame, same ignore-nulls carry
# columns (null on exactly the same rows, so all three resolve to the
# same touch row), same epoch-seconds age arithmetic.
ATTRIBUTION_SQL = """
WITH c AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type IN ('view', 'click')
                    THEN ts END IGNORE NULLS) OVER w AS t_ts,
         last_value(CASE WHEN event_type IN ('view', 'click')
                    THEN event_id END IGNORE NULLS) OVER w AS t_id,
         last_value(CASE WHEN event_type IN ('view', 'click')
                    THEN event_type END IGNORE NULLS) OVER w AS t_ty
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
a AS (
  SELECT *, epoch(ts) - epoch(t_ts) AS age FROM c
  WHERE event_type = 'purchase')
SELECT event_id, user_id, ts,
       CASE WHEN age <= 3600.0 THEN t_id END AS touch_event_id,
       CASE WHEN age <= 3600.0 THEN t_ty END AS touch_type,
       CASE WHEN age <= 3600.0 THEN age END AS touch_age_s
FROM a
"""


def attribution_first_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gapless_deribit_clickhouse_spark.operators.attribution import (
        attribution_first_touch,
    )

    return attribution_first_touch(
        ensure_parallelism(load_table(spark, sf_dir, "events"))
    )


ATTRIBUTION_FIRST_SQL = """
WITH s AS (
  SELECT event_id, user_id, ts, event_type,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS ep
  FROM events),
c AS (
  SELECT *,
         first_value(CASE WHEN event_type IN ('view', 'click')
                     THEN ts END IGNORE NULLS) OVER we AS f_ts,
         first_value(CASE WHEN event_type IN ('view', 'click')
                     THEN event_id END IGNORE NULLS) OVER we AS f_id,
         first_value(CASE WHEN event_type IN ('view', 'click')
                     THEN event_type END IGNORE NULLS) OVER we AS f_ty
  FROM s
  WINDOW we AS (PARTITION BY user_id, ep ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, ts, f_id AS touch_event_id,
       f_ty AS touch_type,
       epoch(ts) - epoch(f_ts) AS touch_age_s
FROM c WHERE event_type = 'purchase'
"""


BINDINGS = [
    ("event_cooccurrence", event_cooccurrence_q, EVENT_COOCCURRENCE_SQL),
    ("attribution_last_touch", attribution_q, ATTRIBUTION_SQL),
    ("attribution_first_touch", attribution_first_q, ATTRIBUTION_FIRST_SQL),
]
