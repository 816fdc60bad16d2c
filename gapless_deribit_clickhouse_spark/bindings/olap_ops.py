"""OLAP parity bindings: ClickHouse LIMIT-n-BY, ROLLUP grouping sets,
and exact multi-level percentiles.

The reference exposes its query surface through ClickHouse, whose
users lean on three aggregation idioms the SURVEY §2 inventory covers
only partially: ``LIMIT n BY group`` (per-group top-n with rank),
``GROUP BY ... WITH ROLLUP`` (subtotal grouping sets in one pass),
and ``quantile``/``median`` families.  Each gets a Spark-first
binding with a full DuckDB oracle, value-checked in CI by
tests/test_demoted_bindings_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.operators.topk import topn_per_group


# --- ClickHouse LIMIT n BY: per-group top-n with rank ---
def limit_by_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event_type (ClickHouse
    ``ORDER BY value DESC LIMIT 3 BY event_type`` parity; reference
    users page per-instrument leaders this way).  One shuffle on the
    group key; WindowGroupLimit caps per-map-task output at n rows
    per group, so a hot event_type never ships its full row set.
    NULLS LAST is explicit on BOTH sides — Spark's DESC defaults
    nulls-last, DuckDB's defaults nulls-first."""
    df = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return topn_per_group(
        df,
        ["event_type"],
        [F.col("value").desc_nulls_last(), F.col("event_id").asc()],
        3,
    ).select("event_type", "rn", "event_id", "value")


LIMIT_BY_SQL = """
SELECT event_type, rn, event_id, value
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY value DESC NULLS LAST, event_id ASC) AS rn
  FROM events WHERE value IS NOT NULL) t
WHERE rn <= 3
"""


# --- WITH ROLLUP: subtotal grouping sets in one aggregation ---
def volume_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line count, quantity and revenue of ``lineitem`` at every
    rollup level of (l_returnflag, l_linestatus) — detail rows,
    per-flag subtotals and the grand total — in ONE aggregation pass
    (ClickHouse ``WITH
    ROLLUP`` / Spark ``rollup()`` parity).  Spark expands the rollup
    into grouping sets BEFORE the exchange, so partial aggregation
    still happens map-side for every level and the shuffle carries
    (n_groups x n_levels) partial rows, not the fact table.  gid
    disambiguates a real NULL group value from a rolled-up level
    (grouping_id bit order matches 2*GROUPING(a)+GROUPING(b))."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_lines,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""


# --- exact multi-level percentiles (quantile/median parity) ---
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p90 of event value per event_type —
    ClickHouse ``quantileExact``/``median`` parity.  Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` both use linear
    interpolation over the sorted set, so values match to float
    round-off.  Exact percentile gathers each group to sort it; the
    grouping key here is low-cardinality but each group is
    SF-proportional, so at 100 TB the move is approx_percentile
    (t-digest sketch, map-side mergeable — the ClickHouse
    ``quantileTDigest`` analogue), which is not oracle-bound because
    sketches are engine-specific."""
    df = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pct = F.expr("percentile(value, array(0.25D, 0.5D, 0.75D, 0.9D))")
    return (
        df.groupBy("event_type")
        .agg(
            pct[0].alias("p25"),
            pct[1].alias("p50"),
            pct[2].alias("p75"),
            pct[3].alias("p90"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .orderBy("event_type")
    )


PERCENTILES_SQL = """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5)  AS p50,
       quantile_cont(value, 0.75) AS p75,
       quantile_cont(value, 0.9)  AS p90,
       CAST(count(*) AS BIGINT)   AS n_obs
FROM events WHERE value IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


# --- AggregatingMergeTree parity: mergeable partial-aggregate states ---
def mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split events into two disjoint batches (history vs new data),
    partial-rollup EACH batch independently, merge the state tables,
    finalize — and the oracle recomputes the same metrics in one pass
    over the full table, so the driver compare proves the merge
    algebra is exact (the AggregatingMergeTree insert/merge model).
    stddev comes from the mergeable (n, sum, sum_sq) triple; each
    batch shuffles only its own rows, and the merge reduces state rows
    (keys x batches), never history."""
    from gapless_deribit_clickhouse_spark.operators.merge_rollup import (
        finalize_rollup,
        merge_rollup,
        partial_rollup,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    keys = ["event_type", "day"]
    s1 = partial_rollup(ev.filter(F.col("ts") < cut), keys, "value")
    s2 = partial_rollup(ev.filter(F.col("ts") >= cut), keys, "value")
    merged = merge_rollup([s1, s2], keys)
    return finalize_rollup(merged, keys).orderBy("event_type", "day")


MERGEABLE_ROLLUP_SQL = """
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(count(value) AS BIGINT) AS n_obs,
       sum(value) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value,
       avg(value) AS avg_value,
       CASE WHEN count(value) >= 2
            THEN sqrt(greatest(
              (sum(value * value) - sum(value) * sum(value) / count(value))
                / (count(value) - 1), 0.0))
       END AS stddev_value
FROM events
GROUP BY event_type, date_trunc('day', ts)
ORDER BY event_type, day
"""


# --- time/volume weighted average price (TWAP / VWAP resample) ---
def twap_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly TWAP + VWAP per event_type: VWAP weights value by the
    JSON props quantity; TWAP weights each observation by its holding
    time — microseconds until the NEXT event in the same (type, hour)
    partition via lead(), so the last observation of each hour carries
    no weight (NULL product, skipped by sum — identical semantics in
    both engines; single-event hours yield NULL TWAP).  One shuffle on
    (type, hour); the window and the aggregation share it.  unix_micros
    keeps the arithmetic exact-integer until the final division
    (epoch microseconds fit double's 53-bit mantissa but never leave
    bigint here)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ev = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts",
        "event_id",
        "value",
        F.from_json(F.col("props"), "k INT")["k"].cast("double").alias("qty"),
    )
    w = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    delta = (F.lead(us).over(w) - us).cast("double")
    return (
        ev.withColumn("hold_us", delta)
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # nullif guards: an hour whose events share one timestamp
            # has zero total hold time; ANSI mode makes /0 an error,
            # and NULL is the honest TWAP there in any mode
            (
                F.sum(F.col("value") * F.col("hold_us"))
                / F.nullif(F.sum("hold_us"), F.lit(0.0))
            ).alias("twap"),
            (
                F.sum(F.col("value") * F.col("qty"))
                / F.nullif(F.sum("qty"), F.lit(0.0))
            ).alias("vwap"),
        )
        .orderBy("event_type", "hour")
    )


TWAP_VWAP_SQL = """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value,
         CAST(CAST(json_extract(props, '$.k') AS INT) AS DOUBLE) AS qty
  FROM events WHERE value IS NOT NULL),
d AS (
  SELECT *,
         CAST(lead(epoch_us(ts)) OVER (
             PARTITION BY event_type, hour ORDER BY ts, event_id)
           - epoch_us(ts) AS DOUBLE) AS hold_us
  FROM ev)
SELECT event_type, hour,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(value * hold_us) / nullif(sum(hold_us), 0.0) AS twap,
       sum(value * qty) / nullif(sum(qty), 0.0) AS vwap
FROM d
GROUP BY event_type, hour
ORDER BY event_type, hour
"""


# --- groupArray / user-journey path (ordered array aggregation) ---
def user_journey_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``arrayStringConcat(arraySlice(groupArray(...)))``
    parity: per user, total event count and the '>'-joined path of
    their first five events in time order — the canonical journey/
    funnel-exploration query.  One shuffle on the user key;
    collect_list gathers per-user structs (bounded by per-user event
    counts, the same boundedness window_funnel relies on), sort_array
    orders them deterministically by (ts, event_id), and the slice
    caps the path before the join — the full array never leaves the
    aggregation.  The path is emitted as a STRING so the oracle
    compare is representation-stable across engines."""
    ev = load_table(spark, sf_dir, "events")
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.unix_micros(F.col("ts")).alias("t"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            )
        )
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(F.slice(ordered, 1, 5), lambda x: x["et"]), ">"
            ).alias("path5"),
        )
        .orderBy("user_id")
    )


USER_JOURNEY_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       array_to_string((list(event_type ORDER BY ts, event_id))[1:5], '>')
         AS path5
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- set operations (SURVEY §2.7): INTERSECT / EXCEPT, value-checked ---
def user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converted-but-clean users: (viewers INTERSECT purchasers)
    EXCEPT first-week-errored — the §2.7 set-operation group as a
    value-checked binding rather than pytest-only machinery (the
    anti side is time-windowed so the result is non-empty at every
    SF — unwindowed, every converting user has errored somewhere).  Catalyst compiles
    INTERSECT to a distinct left-semi join and EXCEPT to a distinct
    left-anti join, so the whole chain is per-key hash aggregation +
    two key-only joins on user_id: each side reduces to its distinct
    key set BEFORE any join, and nothing wider than a user_id ever
    shuffles."""
    ev = load_table(spark, sf_dir, "events")

    def users_of(etype: str) -> DataFrame:
        return ev.filter(F.col("event_type") == etype).select("user_id")

    errored_w1 = ev.filter(
        (F.col("event_type") == "error")
        & (F.col("ts") >= F.lit("2024-01-01"))
        & (F.col("ts") < F.lit("2024-01-08"))
    ).select("user_id")
    out = (
        users_of("view")
        .intersect(users_of("purchase"))
        .subtract(errored_w1)  # EXCEPT DISTINCT, the oracle's operator
    )
    return out.orderBy("user_id")


USER_SET_OPS_SQL = """
SELECT user_id FROM events WHERE event_type = 'view'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
  AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
ORDER BY user_id
"""


# --- dynamic pivot (one-scan conditional-agg expansion) ---
def event_value_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value totals pivoted to one column per event_type via
    Spark's native ``pivot`` — the dynamic-crosstab operator proper,
    complementing moneyness_pivot's static when-chain.  The value
    list is passed EXPLICITLY, which matters twice at 100 TB: it
    skips pivot's otherwise-mandatory distinct-value collection scan,
    and it makes the output schema static so downstream plans stay
    resolvable.  The pivot still compiles to ONE single-pass
    conditional aggregation (partial map-side, one shuffle on the day
    key)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", types)
        .agg(F.sum("value"))
        .orderBy("day")
    )


EVENT_VALUE_PIVOT_SQL = """
SELECT date_trunc('day', ts) AS day,
       sum(CASE WHEN event_type = 'click' THEN value END) AS click,
       sum(CASE WHEN event_type = 'error' THEN value END) AS error,
       sum(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
       sum(CASE WHEN event_type = 'signup' THEN value END) AS signup,
       sum(CASE WHEN event_type = 'view' THEN value END) AS view
FROM events
GROUP BY date_trunc('day', ts)
ORDER BY day
"""


# --- weighted median (quantileExactWeighted parity) ---
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type, the k-weighted median of value (ClickHouse
    ``quantileExactWeighted(0.5)`` / ``medianExactWeighted``): the
    smallest value whose running weight reaches half the group total.
    Neither engine ships a weighted quantile, so BOTH sides express
    the same definition as the same plan — a cumulative-weight window
    over the value order, then min_by on the first qualifying row —
    making the compare a true cross-engine check of the shared
    formulation, like the mixture/split threshold math.  One shuffle
    on the group key; the window and both aggregations share it.
    Weights are exact integers (the JSON qty), so the half-total
    comparison is exact: 2*cum >= total avoids ever dividing.  The
    plan lives in ``operators/weighted.py`` so the brute-force pin in
    tests exercises the SAME code the binding ships."""
    from gapless_deribit_clickhouse_spark.operators.weighted import (
        weighted_median_per_group,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.from_json(F.col("props"), "k INT")["k"].cast("long").alias("qty"),
    )
    return weighted_median_per_group(
        ev, ["event_type"], "value", "qty"
    ).orderBy("event_type")


WEIGHTED_MEDIAN_SQL = """
WITH ev AS (
  SELECT event_type, value,
         CAST(CAST(json_extract(props, '$.k') AS INT) AS BIGINT) AS qty
  FROM events
  WHERE value IS NOT NULL
    AND CAST(json_extract(props, '$.k') AS INT) > 0),
c AS (
  SELECT event_type, value,
         sum(qty) OVER (PARTITION BY event_type ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(qty) OVER (PARTITION BY event_type) AS total
  FROM ev)
SELECT event_type,
       min(value) AS weighted_median,
       CAST(min(total) AS BIGINT) AS total_weight
FROM c WHERE 2 * cum >= total
GROUP BY event_type
ORDER BY event_type
"""


# --- FULL OUTER reconciliation (the one join type nothing else uses) ---
def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-level reconciliation of two independent aggregates — event
    revenue vs order revenue — via FULL OUTER join: days present in
    only one source survive with the other side NULL-coalesced to
    zero, the shape an inner join silently gets wrong in both
    directions.  Both sides aggregate BEFORE the join, so the full outer
    joins two day-cardinality tables — at 100 TB the join inputs are
    thousands of rows regardless of fact size, and the day key is
    unique per side so the join cannot fan out."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum("value").alias("event_value"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        # the orders table spans 1995-2001 vs events' 2024: restrict
        # to a slice REMAPPED into the events year so the full outer
        # exercises all three match cases (both / left-only /
        # right-only) instead of degenerating to a disjoint union
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-02-15"))
        )
        .groupBy(
            (F.col("o_orderdate") + F.expr("INTERVAL 28 YEARS")).alias("day")
        )
        .agg(F.sum("o_totalprice").alias("order_value"))
    )
    return (
        ev.join(orders, "day", "full_outer")
        .select(
            "day",
            F.coalesce("event_value", F.lit(0.0)).alias("event_value"),
            F.coalesce("order_value", F.lit(0.0)).alias("order_value"),
            (
                F.coalesce("event_value", F.lit(0.0))
                - F.coalesce("order_value", F.lit(0.0))
            ).alias("delta"),
        )
        .orderBy("day")
    )


FULL_OUTER_SQL = """
WITH ev AS (
  SELECT date_trunc('day', ts) AS day, sum(value) AS event_value
  FROM events WHERE value IS NOT NULL
  GROUP BY date_trunc('day', ts)),
o AS (
  SELECT o_orderdate + INTERVAL 28 YEAR AS day,
         sum(o_totalprice) AS order_value
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-02-15'
  GROUP BY o_orderdate + INTERVAL 28 YEAR)
SELECT COALESCE(ev.day, o.day) AS day,
       COALESCE(event_value, 0.0) AS event_value,
       COALESCE(order_value, 0.0) AS order_value,
       COALESCE(event_value, 0.0) - COALESCE(order_value, 0.0) AS delta
FROM ev FULL OUTER JOIN o ON ev.day = o.day
ORDER BY day
"""


# --- snapshot diff: row-level CDC between two table versions ---
def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change capture between two deterministic snapshots of
    orders: 'old' drops every 7th key, 'new' drops every 5th and bumps
    every 3rd key's total price — so the diff exercises all three
    change types (insert / delete / update) with NULL-coalesced absent
    sides (operators/diff.py:snapshot_diff — one FULL OUTER hash
    equi-join over (keys, fingerprint) slims, unchanged keys filtered
    before any downstream work)."""
    from gapless_deribit_clickhouse_spark.operators.diff import snapshot_diff

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = base.filter(F.col("o_orderkey") % 7 != 0)
    new = base.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_totalprice", "o_orderstatus"],
    )


SNAPSHOT_DIFF_SQL = """
WITH oldv AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey % 7 <> 0),
newv AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 5 <> 0),
d AS (
  SELECT coalesce(oldv.o_orderkey, newv.o_orderkey) AS o_orderkey,
         CASE WHEN oldv.o_orderkey IS NULL THEN 'insert'
              WHEN newv.o_orderkey IS NULL THEN 'delete'
              WHEN oldv.o_totalprice IS DISTINCT FROM newv.o_totalprice
                OR oldv.o_orderstatus IS DISTINCT FROM newv.o_orderstatus
              THEN 'update' END AS change_type,
         oldv.o_totalprice AS old_o_totalprice,
         oldv.o_orderstatus AS old_o_orderstatus,
         newv.o_totalprice AS new_o_totalprice,
         newv.o_orderstatus AS new_o_orderstatus
  FROM oldv FULL JOIN newv ON oldv.o_orderkey = newv.o_orderkey)
SELECT * FROM d WHERE change_type IS NOT NULL
"""


# --- cumulative distinct users (growth curve) ---
def cumulative_unique_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly new-user count and the running total of distinct users
    ever seen — the growth curve ClickHouse serves with
    runningAccumulate(uniqState(...)). A naive per-bucket
    COUNT(DISTINCT user WHERE ts <= bucket) rescans the facts once per
    bucket; this is the scale shape instead: ONE groupBy reduces each
    user to their first hour (the only event-scale shuffle), an
    hour-cardinality rollup counts first appearances, and the running
    sum is a window over ~hours rows (metadata-scale, single partition
    by construction and by size)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("hour")
    )
    hourly = first.groupBy("hour").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hourly.withColumn("cumulative_users", F.sum("new_users").over(w))
        .orderBy("hour")
    )


CUMULATIVE_UNIQUE_USERS_SQL = """
WITH first_seen AS (
  SELECT user_id, min(date_trunc('hour', ts)) AS hour
  FROM events GROUP BY user_id),
hourly AS (
  SELECT hour, count(*) AS new_users FROM first_seen GROUP BY hour)
SELECT hour, new_users,
       CAST(sum(new_users) OVER (ORDER BY hour ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cumulative_users
FROM hourly ORDER BY hour
"""


BINDINGS = [
    ("limit_by_topn", limit_by_topn, LIMIT_BY_SQL),
    ("volume_rollup", volume_rollup, ROLLUP_SQL),
    ("value_percentiles", value_percentiles, PERCENTILES_SQL),
    ("mergeable_rollup", mergeable_rollup, MERGEABLE_ROLLUP_SQL),
    ("twap_vwap", twap_vwap, TWAP_VWAP_SQL),
    ("user_journey_path", user_journey_path, USER_JOURNEY_SQL),
    ("user_set_ops", user_set_ops, USER_SET_OPS_SQL),
    ("event_value_pivot", event_value_pivot, EVENT_VALUE_PIVOT_SQL),
    ("weighted_median", weighted_median, WEIGHTED_MEDIAN_SQL),
    ("full_outer_reconcile", full_outer_reconcile, FULL_OUTER_SQL),
    ("snapshot_diff", snapshot_diff_q, SNAPSHOT_DIFF_SQL),
    ("cumulative_unique_users", cumulative_unique_users_q,
     CUMULATIVE_UNIQUE_USERS_SQL),
]
