"""Core engine operators bound to testdata (scan/filter/sort/limit,
dedup-at-read, OHLC resample, argMin top-1-per-group, TPC-H-style agg).

Reference parity notes per binding are in each function's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.operators.dedup import dedup_latest
from gapless_deribit_clickhouse_spark.operators.resample import ohlc_resample
from gapless_deribit_clickhouse_spark.operators.topk import ordered_limit, top1_per_group

# DuckDB-exact 15-minute bucket (naive UTC timestamp); Spark side is
# functions.timeutils.time_bucket.
_BUCKET_SQL = "epoch_ms(((floor(epoch({ts}))::BIGINT // {step}) * {step}) * 1000)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


# --- S9/F1-F4/O1: scan + predicate + DESC order + limit (fetch_trades path) ---
def scan_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fetch_trades``-style point/range scan: equality + time-range
    predicates pushed to the parquet scan, ORDER BY ts DESC LIMIT n
    compiled to TakeOrderedAndProject (reference: api.py:100-182)."""
    df = _events(spark, sf_dir)
    df = df.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-25 00:00:00"))
        & (F.col("event_type") != "error")
    )
    return ordered_limit(df, [F.col("ts").desc(), F.col("event_id").desc()], 100)


SCAN_TOPN_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-25 00:00:00'
  AND event_type <> 'error'
ORDER BY ts DESC, event_id DESC
LIMIT 100
"""


# --- W5: ReplacingMergeTree FINAL dedup-at-read ---
def dedup_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the latest row per (user_id, event_type) — deterministic
    FINAL semantics (reference: api.py:167-171, options_trades.yaml:26)."""
    return dedup_latest(_events(spark, sf_dir), keys=["user_id", "event_type"], version_cols=["ts"])


DEDUP_LATEST_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type
    ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST,
             value DESC NULLS LAST, props DESC NULLS LAST) AS rn
  FROM events) t
WHERE rn = 1
"""


# --- A5: OHLC resample to a 15-min grid ---
def ohlc_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular events -> deterministic 15-min OHLC bars per event_type
    (reference: features/resampler.py:74-111; min_by/max_by for
    order-stable open/close per SURVEY §7.3.2)."""
    return ohlc_resample(
        _events(spark, sf_dir),
        ts_col="ts",
        value_col="value",
        volume_col="value",
        step_seconds=900,
        keys=["event_type"],
        tiebreak_col="event_id",
    )


OHLC_15M_SQL = f"""
WITH base AS (
  SELECT event_type, {_BUCKET_SQL.format(ts="ts", step=900)} AS bucket_ts,
         ts, event_id, value
  FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM base)
SELECT bucket_ts, event_type,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       sum(value) AS volume,
       count(value) AS n_obs
FROM ranked
GROUP BY bucket_ts, event_type
"""


# --- A1: argMin top-1-per-group (front-month selection shape) ---
def top1_min_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row argMin per (event_type, day) via min_by(struct) — the
    reference's argMin(tuple(...), dte) pattern
    (contract_selector.py:34-62), deterministic via event_id tiebreak."""
    # day kept as timestamp (not date): Spark DateType surfaces as
    # python date objects while DuckDB DATE surfaces as datetime64 —
    # casting both sides to timestamp removes the representation skew.
    df = _events(spark, sf_dir).withColumn("day", F.to_date("ts").cast("timestamp"))
    return top1_per_group(
        df,
        group_cols=["event_type", "day"],
        order_col=F.struct(F.col("value"), F.col("event_id")),
        payload_cols=["event_id", "ts", "user_id", "value"],
    )


TOP1_MIN_VALUE_SQL = """
SELECT event_type, day, event_id, ts, user_id, value
FROM (
  SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_id, ts, user_id, value,
         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY value, event_id) AS rn
  FROM events) t
WHERE rn = 1
"""


# --- A-group: TPC-H Q1 pricing summary (multi-agg groupBy) ---
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy multi-aggregate groupBy — the canonical partial-agg +
    exchange + final-agg shape; all 8 aggregates in one pass."""
    li = _lineitem(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity) AS avg_qty,
       avg(l_extendedprice) AS avg_price,
       avg(l_discount) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- multi-way join: returned-revenue by customer (TPC-H Q10 shape) ---
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-planning showcase: lineitem joins orders on the shuffled
    fact key (AQE picks SMJ/shuffled-hash and coalesces), while
    customer and nation ride broadcast hash joins; the filters sit
    below the joins (pushed to the scans) and the final top-20 compiles
    to TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum(l_extendedprice * (1 - l_discount)) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- join + group + top-k (TPC-H Q3 shape) ---
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic sales-funnel shape: small dimension filter broadcasts
    (customer segment), the fact-fact join shuffles on the order key,
    aggregation is partial below the shuffle, and the top-10 compiles
    to TakeOrderedAndProject — no global sort ever materializes.
    (Testdata has no o_shippriority; o_orderpriority stands in.)"""
    cutoff = "1997-06-01"
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit(cutoff))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff)
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- multi-way dimension-chain join (TPC-H Q5 shape) ---
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-reordering benchmark: six tables, one region filter.
    The TRUE dimension chain (region -> nation) broadcasts by explicit
    hint — the region predicate prunes nations before anything touches
    a fact table. Supplier and customer carry NO hint: they are
    SF-proportional in TPC-H, so broadcasting them by hint would OOM
    executors on a real cluster; the cost-based planner decides.
    Observed at test scale: customer converts to broadcast, while the
    supplier edge stays a sort-merge join — static stats cannot size
    the supplier-joins-nation subtree, and by the time AQE has runtime
    stats both shuffle stages have already run, so conversion buys
    nothing (the ONE deliberate SMJ in the binding surface; at 100 TB
    the region-filtered supplier is millions of rows and the shuffle
    join is simply correct). The c_nationkey = s_nationkey locality
    condition rides the customer join as an extra equality on the
    already-joined nation key, not a separate join."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- join + conditional-agg ratio (TPC-H Q14 shape) ---
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-revenue share: fact scan filtered to one month, part
    dimension broadcast, and the CASE-inside-aggregate ratio computed
    in a single partial->final aggregation — the
    conditional-agg-over-a-join shape (no second pass for the
    denominator)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT 100.0 * sum(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount)
                        ELSE 0 END)
            / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""


# --- disjunctive multi-attribute join predicate (TPC-H Q19 shape) ---
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR-of-ANDs predicate benchmark: three (brand, size range,
    quantity range) disjuncts spanning BOTH join sides. Catalyst
    extracts the part-only common factors below the join (brand/size
    prune the broadcast build side) while the mixed quantity terms
    evaluate post-join — the shape that breaks naive
    pushdown-everything planners."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#13") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#20") & s.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


Q19_SQL = """
SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate  > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- large-agg-then-filter semi-join (TPC-H Q18 shape) ---
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-filter as a semi-join: the HAVING aggregation
    over lineitem shrinks to a handful of qualifying orders, so the
    'IN (subquery)' becomes a broadcast join against the agg output —
    the fact table is scanned once and never self-joined. Threshold
    250 ~ p99 of per-order quantity in the testdata (TPC-H uses 300
    at its own scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN big      ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --- EXISTS semi-join (TPC-H Q4 shape) ---
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXISTS-subquery benchmark as a true left-semi join: orders
    in one quarter that had at least one line item shipped after the
    order date (the testdata has no commit/receipt dates, so
    late-shipment stands in for the spec's late-delivery predicate —
    the defining shape, a semi-join with an extra NON-equi condition
    riding the equi key, is identical). The semi join never
    materializes lineitem columns and short-circuits per order on the
    probe side; at 100 TB both sides shuffle once on orderkey and the
    non-equi term evaluates inside the join, never as a post-join
    filter over a fact-fact product."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- left-outer join + two-level agg (TPC-H Q13 shape) ---
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count histogram: the outer-join-then-double-agg
    shape. The LEFT OUTER join keeps order-less customers (their
    count(o_orderkey) is 0, not a dropped row — the semantics an inner
    join silently gets wrong), the first aggregation reduces on the
    join key it is already partitioned by (no extra shuffle), and the
    second aggregation reduces ~millions of per-customer rows to a
    few dozen histogram buckets — map-side partials do almost all of
    the work."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- decorrelated scalar correlated subquery (TPC-H Q17 shape) ---
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-scalar-subquery benchmark ('quantity below 20%
    of this part's average'), decorrelated to a single window
    aggregate: prune lineitem to one brand via a broadcast part join,
    then compute the per-part average with avg() OVER (PARTITION BY
    l_partkey) on the pruned set — ONE shuffle on partkey, no second
    scan of lineitem and no agg-then-join-back (whose per-part agg
    output is SF-proportional for a fixed brand, so broadcasting it
    back would not survive scale-up). The part side carries NO
    broadcast hint for the same reason Q5's supplier doesn't: a
    one-brand slice of part is still SF-proportional, so the
    cost-based planner must choose (it broadcasts at test scale,
    shuffles at 100 TB — both correct). Per-part lineitem counts are
    ~constant in TPC-H regardless of SF, so the window partitions are
    bounded and skew-free."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pruned = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("qty_cut", 0.2 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


Q17_SQL = """
WITH pruned AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#13'),
wc AS (
  SELECT *, 0.2 * avg(l_quantity) OVER (PARTITION BY l_partkey) AS qty_cut
  FROM pruned)
SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
FROM wc WHERE l_quantity < qty_cut
"""


# --- anti-join + scalar-subquery filter (TPC-H Q22 shape) ---
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT-EXISTS benchmark: above-average-balance customers with
    no order since 1999 (classic Q22's 'no orders ever' is empty on
    this testdata — every customer has orders — so the recency
    predicate keeps the anti-join non-trivial while the shape is
    unchanged). The global average is a 1-row aggregate broadcast
    into the plan (a bounded-by-construction nested-loop broadcast,
    NOT a driver collect), the date predicate is pushed into the
    orders scan BEFORE the anti-join builds its hash table, and the
    anti join itself is the null-safe NOT IN replacement that scales:
    one shuffle (or broadcast, if the filtered orders fit) instead of
    a per-row subquery."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


Q22_SQL = """
SELECT c_mktsegment, count(*) AS numcust, sum(c_acctbal) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- pure pushdown scan-agg (TPC-H Q6 shape) ---
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pushdown benchmark: three range predicates, no join, one
    scalar aggregate — every filter reaches the parquet scan
    (PushedFilters + row-group min/max pruning), the aggregation is a
    map-side partial collapsing to one row per task. The query whose
    cost at 100 TB is pure I/O on the pruned byte range."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
        )
    )


Q6_SQL = """
SELECT sum(l_extendedprice * l_discount) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- WITH FILL parity: densified, forward-filled OHLC ---
def ohlc_15m_gapless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's namesake contract: the 15-min OHLC series
    densified to its full per-key grid (ClickHouse ORDER BY ... WITH
    FILL) with the close forward-filled across empty buckets and the
    inserted rows flagged."""
    from gapless_deribit_clickhouse_spark.operators.gapfill import (
        fill_time_gaps,
    )

    bars = ohlc_15m(spark, sf_dir)
    return fill_time_gaps(
        bars,
        ts_col="bucket_ts",
        step_seconds=900,
        keys=["event_type"],
        fill_cols=["close"],
    ).select("event_type", "bucket_ts", "close", "is_gap")


OHLC_GAPLESS_SQL = f"""
WITH ohlc AS (SELECT * FROM ({OHLC_15M_SQL})),
bounds AS (
  SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM ohlc GROUP BY event_type),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket_ts
  FROM bounds),
j AS (
  SELECT g.event_type, g.bucket_ts, o.close,
         CASE WHEN o.bucket_ts IS NULL THEN 1 ELSE 0 END AS is_gap
  FROM grid g LEFT JOIN ohlc o
    ON o.event_type = g.event_type AND o.bucket_ts = g.bucket_ts)
SELECT event_type, bucket_ts,
       -- only inserted rows are filled; an observed NULL stays NULL
       -- (mirrors gapfill.py's WITH FILL parity rule — ADVICE r5)
       CASE WHEN is_gap = 0 THEN close
            ELSE last_value(close IGNORE NULLS) OVER (
              PARTITION BY event_type ORDER BY bucket_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       END AS close,
       is_gap
FROM j
"""


def ohlc_gapless_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH FILL ... INTERPOLATE parity: the same densified grid with
    the close LINEARLY interpolated between the surrounding observed
    bars instead of stepped forward — the variant charting and
    diff-based consumers want.  Same plan as the forward-fill shape
    plus one mirrored window (both ride the (key, ts) sort already
    paid); interpolation weights are exact-integer epoch micros cast
    to double, shared with the oracle."""
    from gapless_deribit_clickhouse_spark.operators.gapfill import (
        fill_time_gaps,
    )

    bars = ohlc_15m(spark, sf_dir)
    return fill_time_gaps(
        bars,
        ts_col="bucket_ts",
        step_seconds=900,
        keys=["event_type"],
        interpolate_cols=["close"],
    ).select("event_type", "bucket_ts", "close", "is_gap")


OHLC_GAPLESS_INTERP_SQL = f"""
WITH ohlc AS (SELECT * FROM ({OHLC_15M_SQL})),
bounds AS (
  SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM ohlc GROUP BY event_type),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket_ts
  FROM bounds),
j AS (
  SELECT g.event_type, g.bucket_ts, o.close,
         CASE WHEN o.bucket_ts IS NULL THEN 1 ELSE 0 END AS is_gap,
         -- anchor gate mirrors gapfill.py: presence AND value
         -- non-null (a NULL-valued observed bar must not anchor the
         -- slope timestamps either — ADVICE r5)
         CASE WHEN o.bucket_ts IS NOT NULL AND o.close IS NOT NULL
              THEN CAST(epoch_us(g.bucket_ts) AS DOUBLE) END AS obs_t
  FROM grid g LEFT JOIN ohlc o
    ON o.event_type = g.event_type AND o.bucket_ts = g.bucket_ts),
wv AS (
  SELECT *,
         CAST(epoch_us(bucket_ts) AS DOUBLE) AS t,
         last_value(close IGNORE NULLS) OVER wp AS prev_v,
         first_value(close IGNORE NULLS) OVER wn AS next_v,
         last_value(obs_t IGNORE NULLS) OVER wp AS prev_t,
         first_value(obs_t IGNORE NULLS) OVER wn AS next_t
  FROM j
  WINDOW wp AS (PARTITION BY event_type ORDER BY bucket_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY event_type ORDER BY bucket_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, bucket_ts,
       -- parenthesized to Spark's evaluation order, a * (b / c):
       -- (a*b)/c rounds differently by ~1 ulp, which the compare's
       -- 6dp rounding amplifies at exact-half boundaries
       CASE WHEN is_gap = 0 THEN close
            ELSE prev_v + (next_v - prev_v) * ((t - prev_t) / (next_t - prev_t))
       END AS close,
       is_gap
FROM wv
"""


def scan_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second page of the fetch_trades scan — ORDER BY ts DESC
    LIMIT 100 OFFSET 100 (the reference pages its trade fetches;
    this is the query-side pagination shape).  Spark compiles
    offset+limit over a sort into a single CollectLimit(offset, n)
    over per-partition top-(m+n) heaps: each partition forwards at
    most offset+limit rows and the driver drops the first offset —
    still no global sort, the same scale story as
    TakeOrderedAndProject (deep pagination pays m+n per partition,
    which is why real cursors should keyset-paginate on (ts,
    event_id) instead; this binding documents the tradeoff)."""
    df = _events(spark, sf_dir)
    df = df.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-25 00:00:00"))
        & (F.col("event_type") != "error")
    )
    return (
        df.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .offset(100)
        .limit(100)
    )


SCAN_PAGE2_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-25 00:00:00'
  AND event_type <> 'error'
ORDER BY ts DESC, event_id DESC
LIMIT 100 OFFSET 100
"""


def scan_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination — the scale-safe alternative that
    ``scan_page2``'s docstring promises: instead of OFFSET (every
    partition forwards offset+limit rows, so page N costs O(N)), the
    client passes the last row of the previous page and the predicate
    ``(ts, event_id) < (:last_ts, :last_id)`` (DESC order) selects
    strictly-older rows.  The tuple comparison decomposes into
    ``ts < c OR (ts = c AND event_id < id)``; the ``ts <= c`` bound is
    ALSO emitted standalone so it reaches the parquet scan as a
    pushed filter (row-group min/max pruning on the sort column —
    the OR-form alone defeats pushdown).  Every page is then a
    constant-cost TakeOrderedAndProject over the pruned byte range:
    page 1000 reads the same bytes as page 2.

    The cursor below is the true last row of ``scan_page2``'s page 1
    (computed by the oracle's own semantics), so this binding's rows
    are IDENTICAL to ``scan_page2``'s — the equivalence the driver's
    hash compare certifies.

    Reference parity: ``/root/reference/src/gapless_deribit_clickhouse/
    api.py:100-182`` pages trade fetches by shifting the time bound of
    each subsequent request — exactly this cursor shape."""
    # page-1-last cursor for the sf-independent filter window: the
    # 100th row of the same ORDER BY over sf0.01 *and* any superset
    # slice is data-dependent, so derive it in-plan from the same
    # query instead of hard-coding a value that drifts across sf.
    df = _events(spark, sf_dir)
    df = df.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-25 00:00:00"))
        & (F.col("event_type") != "error")
    )
    cursor = (
        df.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
        .agg(
            F.min_by(F.struct("ts", "event_id"), F.struct("ts", "event_id"))
            .alias("c")
        )
        .select(F.col("c.ts").alias("c_ts"), F.col("c.event_id").alias("c_id"))
    )
    # broadcast the 1-row cursor into the plan (no driver round-trip);
    # the standalone ts <= c_ts conjunct is the pushdown-friendly
    # bound, the OR-tuple refines it exactly
    page2 = (
        df.join(F.broadcast(cursor))
        .filter(
            (F.col("ts") <= F.col("c_ts"))
            & (
                (F.col("ts") < F.col("c_ts"))
                | ((F.col("ts") == F.col("c_ts")) & (F.col("event_id") < F.col("c_id")))
            )
        )
        .drop("c_ts", "c_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
    )
    return page2


SCAN_KEYSET_SQL = """
WITH page1 AS (
  SELECT ts, event_id
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
    AND ts <  TIMESTAMP '2024-01-25 00:00:00'
    AND event_type <> 'error'
  ORDER BY ts DESC, event_id DESC
  LIMIT 100),
cursor AS (
  SELECT ts AS c_ts, event_id AS c_id
  FROM page1 ORDER BY ts ASC, event_id ASC LIMIT 1)
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props
FROM events e, cursor c
WHERE e.ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND e.ts <  TIMESTAMP '2024-01-25 00:00:00'
  AND e.event_type <> 'error'
  AND e.ts <= c.c_ts
  AND (e.ts < c.c_ts OR (e.ts = c.c_ts AND e.event_id < c.c_id))
ORDER BY e.ts DESC, e.event_id DESC
LIMIT 100
"""


# --- fixed-bin histogram (two-phase global stat + bucket) ---
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bin histogram of the value column with data-derived bounds:
    the 1-row min/max aggregate broadcasts into the plan (no driver
    round-trip) and the bin index is shared double arithmetic, so the
    oracle reproduces bucket membership bit-for-bit. The ClickHouse
    histogram() shape with deterministic fixed bins instead of the
    adaptive (order-dependent) centroids."""
    n_bins = 32
    ev = _events(spark, sf_dir).select("value").filter(F.col("value").isNotNull())
    stats = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    # nullif guards the degenerate all-equal corpus: a zero span must
    # yield NULL bins on BOTH engines (DuckDB's IEEE double division
    # would produce inf and then error on the INT cast; Spark non-ANSI
    # would NULL silently — ADVICE r5)
    width = F.nullif(F.col("vmax") - F.col("vmin"), F.lit(0.0)) / F.lit(
        float(n_bins)
    )
    bin_ = F.least(
        F.floor((F.col("value") - F.col("vmin")) / width).cast("int"),
        F.lit(n_bins - 1),
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .select(
            bin_.alias("bin"),
            (F.col("vmin") + bin_ * width).alias("bin_lo"),
            (F.col("vmin") + (bin_ + 1) * width).alias("bin_hi"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.min("bin_lo").alias("bin_lo"),
            F.min("bin_hi").alias("bin_hi"),
        )
    )


VALUE_HISTOGRAM_SQL = """
WITH s AS (
  SELECT min(value) AS vmin, max(value) AS vmax
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT LEAST(CAST(floor((value - vmin) / (nullif(vmax - vmin, 0) / 32.0)) AS INT), 31) AS bin,
         vmin, vmax
  FROM events, s WHERE value IS NOT NULL)
SELECT bin, count(*) AS n_obs,
       -- bin * (span/32), matching Spark's bin_*width evaluation
       -- order: (bin*span)/32 rounds ~1 ulp differently (ADVICE r5)
       min(vmin + bin * (nullif(vmax - vmin, 0) / 32.0)) AS bin_lo,
       min(vmin + (bin + 1) * (nullif(vmax - vmin, 0) / 32.0)) AS bin_hi
FROM b GROUP BY bin
"""


BINDINGS = [
    ("scan_topn", scan_topn, SCAN_TOPN_SQL),
    ("q10_returned_revenue", q10_returned_revenue, Q10_SQL),
    ("q3_shipping_priority", q3_shipping_priority, Q3_SQL),
    ("q18_large_volume_customer", q18_large_volume_customer, Q18_SQL),
    ("q5_local_supplier_volume", q5_local_supplier_volume, Q5_SQL),
    ("q14_promo_revenue", q14_promo_revenue, Q14_SQL),
    ("q19_discounted_revenue", q19_discounted_revenue, Q19_SQL),
    ("dedup_latest", dedup_latest_events, DEDUP_LATEST_SQL),
    ("ohlc_15m", ohlc_15m, OHLC_15M_SQL),
    ("top1_min_value", top1_min_value, TOP1_MIN_VALUE_SQL),
    ("q1_pricing_summary", q1_pricing_summary, Q1_SQL),
    ("q4_order_priority", q4_order_priority, Q4_SQL),
    ("q13_customer_distribution", q13_customer_distribution, Q13_SQL),
    ("q17_small_quantity_revenue", q17_small_quantity_revenue, Q17_SQL),
    ("q22_dormant_customers", q22_dormant_customers, Q22_SQL),
    ("q6_forecast_revenue", q6_forecast_revenue, Q6_SQL),
    ("ohlc_15m_gapless", ohlc_15m_gapless, OHLC_GAPLESS_SQL),
    ("value_histogram", value_histogram, VALUE_HISTOGRAM_SQL),
    ("ohlc_gapless_interp", ohlc_gapless_interp, OHLC_GAPLESS_INTERP_SQL),
    ("scan_page2", scan_page2, SCAN_PAGE2_SQL),
    ("scan_keyset", scan_keyset, SCAN_KEYSET_SQL),
]
