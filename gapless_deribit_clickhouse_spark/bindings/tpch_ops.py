"""The remaining TPC-H join/agg shapes (Q2, Q7, Q8, Q9, Q11, Q12,
Q15, Q16, Q20, Q21), adapted to the driver testdata schema.

Together with core_ops (Q1/Q3/Q4/Q6/Q10/Q13/Q17/Q18/Q22) and
extra_ops (Q5/Q14/Q19) this completes all 22 canonical TPC-H query
shapes.  The testdata has no ``partsupp`` table and no
commit/receipt/shipmode columns, so where the spec needs them we
substitute a surrogate with the SAME relational shape (noted per
query): ``partsupp`` -> distinct (l_partkey, l_suppkey) offers from
lineitem with unit price as supply cost; "late delivery" ->
l_shipdate > o_orderdate + INTERVAL.  The defining plan shape of each
query — groupwise-min join-back, two-sided nation pairing, share-of-
total, scalar-subquery HAVING, top-1-by-scalar-max, NOT-IN +
count-distinct, nested semi chain, EXISTS / NOT-EXISTS self
correlation — is preserved exactly, which is what matters for
coverage and for the 100 TB plan audit.

Every binding here is value-checked in CI by
tests/test_demoted_bindings_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _offers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp surrogate: one row per (partkey, suppkey) pair seen in
    lineitem, with min unit price as the supply cost.  One shuffle on
    (partkey, suppkey); map-side partial aggregation does most of the
    reduction because TPC-H repeats pairs only a handful of times."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
        )
    )
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("unit_cost").alias("supplycost")
    )


_OFFERS_SQL = """
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS supplycost
  FROM lineitem WHERE l_quantity > 0
  GROUP BY l_partkey, l_suppkey
"""


# --- Q2: groupwise-min join-back (minimum-cost supplier) ---
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated 'supplier with the minimum supply cost for this
    part' subquery, decorrelated to a window min: restrict offers to
    STANDARD parts and EUROPE suppliers, take min(supplycost) OVER
    (PARTITION BY partkey) on the restricted set, keep rows equal to
    it.  Both engines compute the min over the identical double set,
    so the equality filter is exact.  At 100 TB: nation/region are
    broadcast dims; part and the EUROPE supplier slice are
    SF-proportional so they carry NO hint (the planner broadcasts at
    test scale, shuffles at 100 TB — both correct, same policy as
    Q5/Q17); the offers aggregate and the window share the partkey
    shuffle key, and the window partitions are per-part supplier
    counts — bounded, skew-free.  No second scan, no
    agg-then-join-back."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select(
        "p_partkey", "p_name"
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_sup = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = _offers(spark, sf_dir)
    joined = (
        offers.join(part, offers.l_partkey == part.p_partkey)
        .join(eu_sup, offers.l_suppkey == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_cost", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = f"""
WITH offers AS ({_OFFERS_SQL}),
eu_sup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
j AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost,
         min(supplycost) OVER (PARTITION BY p_partkey) AS min_cost
  FROM offers
  JOIN part ON l_partkey = p_partkey
  JOIN eu_sup ON l_suppkey = s_suppkey
  WHERE p_type = 'STANDARD')
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost
FROM j WHERE supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --- Q7: two-sided nation pairing (volume shipping) ---
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume between two nations: lineitem joined to
    supplier (shipper side) and orders->customer (receiver side),
    keeping only the two (supp_nation, cust_nation) orderings of the
    pair, grouped by the pair and ship year.  At 100 TB the single
    fact-fact join (lineitem x orders) shuffles once on orderkey;
    supplier and customer reduce to nation keys via broadcast-joined
    dims BEFORE that shuffle, so the wide rows never carry dim
    payloads.  The OR-of-two-orderings predicate rides the join
    output, not a cross product."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- Q8: national market share (share-of-total conditional agg) ---
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of PROMO-part revenue delivered into ASIA per
    order year: the numerator is a conditional sum over the SAME
    grouped rows as the denominator — one aggregation, zero extra
    passes.  Customer nation restricts to one region via broadcast
    dims; the only fact-fact shuffle is lineitem x orders on
    orderkey.  part is filtered to one p_type before its broadcast,
    so the build side stays small even at 100 TB part counts."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sup_nat = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT o_year,
       sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
         / sum(volume) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01') t
GROUP BY o_year
ORDER BY o_year
"""


# --- Q9: product-type profit breakdown ---
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on red-named parts by supplier nation and order year.
    The spec's cost term ps_supplycost * l_quantity has no partsupp
    here; p_retailprice * l_quantity * 0.8 is the cost surrogate
    (same shape: a per-part scalar carried through the join into the
    profit expression).  One fact-fact shuffle (lineitem x orders on
    orderkey); part is name-filtered before broadcast; supplier
    reduces to its nation key pre-shuffle."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup_nat = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.8
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT nation, o_year, sum(amount) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount)
           - p_retailprice * l_quantity * 0.8 AS amount
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%red%') t
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --- Q11: scalar-subquery HAVING (important stock identification) ---
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue through EUROPE suppliers exceeds 1.5x
    the average per-part value: per-part aggregate filtered against a
    global scalar (the spec's FRACTION*sum threshold must be rescaled
    by 1/SF to return rows at any scale — an avg-relative threshold
    is the scale-free equivalent, same plan shape).  The scalar is a
    second aggregation of the SAME per-part output (tiny), broadcast
    back into the plan as a 1-row nested-loop build — never a driver
    collect, never a rescan of lineitem.  The per-part agg shuffles
    once on partkey."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    per_part = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("part_value"))
    )
    total = per_part.agg(F.avg("part_value").alias("avg_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 1.5 * F.col("avg_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey, sum(l_extendedprice) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > 1.5 * (SELECT avg(part_value) FROM per_part)
ORDER BY part_value DESC, l_partkey
"""


# --- Q12: late-line priority classification (shipmode shape) ---
def q12_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spec groups by l_shipmode and splits counts by order
    priority for late-delivered lines; the testdata has neither
    shipmode nor receipt dates, so the grouping attribute is
    l_returnflag and 'late' is l_shipdate > o_orderdate + 30 days —
    the shape (fact-fact join, non-equi lateness predicate, CASE-sum
    split by priority class) is unchanged.  The lateness predicate
    rides the orderkey equi-join; the year filter pushes into the
    lineitem scan."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Q15: top supplier (scalar-max join-back) ---
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue-view + max-scalar-subquery query: per-supplier
    quarterly revenue, keep the supplier(s) equal to the max.  The
    1-row max aggregates the per-supplier output (already tiny) and
    broadcasts back — the revenue 'view' is computed exactly once,
    exactly like the SQL WITH binds it once.  Equality against the
    max is exact: the revenue frame is checkpointed so the scalar and
    the probe read the SAME materialized doubles (re-execution could
    merge sum partials in a different order — 1 ulp off on an
    exact-equality boundary is an empty result)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    # the max scalar AND the probe side must read the SAME materialized
    # doubles: without the checkpoint each branch re-executes the sum,
    # whose shuffle partials merge in nondeterministic order, and a
    # 1-ulp wobble on the exact-equality boundary row silently returns
    # zero rows
    ).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# --- Q16: NOT-IN + count-distinct (parts/supplier relationship) ---
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier counts per (brand, type, size) over the
    partsupp surrogate, excluding one brand, one type, and blocked
    suppliers (the spec's complaint-comment scan has no comment
    column; s_acctbal < 0 is the blocklist surrogate — same shape, a
    NOT-IN rewritten as a broadcast anti-join, which unlike NOT IN is
    null-safe and never degenerates to a per-row subquery).  The
    count-distinct shuffles on the group key with the suppkey set
    carried as a partial aggregate."""
    links = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    blocked = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        links.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(blocked, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(100)
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) links
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 100
"""


# --- Q20: nested semi-join chain (potential part promotion) ---
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in AMERICA who concentrated more than half of their
    all-time shipped quantity of some red-named part into 1997 (the
    spec's 'availqty > half of one year's shipments' has no partsupp
    availqty; the >50%-of-total threshold keeps the identical nested
    structure: an inner per-(part,supplier) aggregate with a
    correlated threshold, collapsed into one conditional aggregation,
    feeding a semi-join on suppkey, feeding the nation filter).  The
    conditional agg computes the 1997 slice and the total in ONE pass
    — no self-join of lineitem against its own aggregate."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01")) & (
        F.col("l_shipdate") < F.lit("1998-01-01")
    )
    qualifying = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in_1997, F.col("l_quantity")).otherwise(0.0)).alias("qty_1997"),
            F.sum("l_quantity").alias("qty_total"),
        )
        .filter(F.col("qty_1997") > 0.5 * F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        sup.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%red%'
    GROUP BY l_partkey, l_suppkey
    HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                     AND l_shipdate <  TIMESTAMP '1998-01-01'
                    THEN l_quantity ELSE 0 END) > 0.5 * sum(l_quantity))
ORDER BY s_name
"""


# --- Q21: EXISTS + NOT-EXISTS self correlation (waiting suppliers) ---
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in NATION_7 who were the SOLE late shipper on a
    multi-supplier finalized order ('late' = shipped more than 60
    days after the order date; the spec's receipt-vs-commit test has
    no receipt column).  The spec's correlated EXISTS (another
    supplier on the order) + NOT EXISTS (another LATE supplier) pair
    is decorrelated into ONE per-order aggregate — count of distinct
    suppliers and of distinct late suppliers — joined back to the
    late lines; at 100 TB that is one orderkey shuffle instead of two
    correlated fact-fact probes.  numwait counts qualifying late
    lines per supplier, exactly as the spec's count(*) does."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    late_lines = lines.filter(F.col("is_late")).select("l_orderkey", "l_suppkey")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        late_lines.join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
            "l_orderkey",
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# Deliberately the spec's CORRELATED form (not our decorrelated
# rewrite) so the oracle is an independent formulation of the
# semantics, not a transcription of the Spark plan.
Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_7'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


BINDINGS = [
    ("q2_min_cost_supplier", q2_min_cost_supplier, Q2_SQL),
    ("q7_volume_shipping", q7_volume_shipping, Q7_SQL),
    ("q8_market_share", q8_market_share, Q8_SQL),
    ("q9_product_profit", q9_product_profit, Q9_SQL),
    ("q11_important_stock", q11_important_stock, Q11_SQL),
    ("q12_late_line_priority", q12_late_line_priority, Q12_SQL),
    ("q15_top_supplier", q15_top_supplier, Q15_SQL),
    ("q16_parts_supplier_count", q16_parts_supplier_count, Q16_SQL),
    ("q20_part_promotion", q20_part_promotion, Q20_SQL),
    ("q21_waiting_supplier", q21_waiting_supplier, Q21_SQL),
]
