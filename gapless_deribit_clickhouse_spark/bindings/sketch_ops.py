"""Sketch-tier bindings: ClickHouse approximate-aggregate parity
(``uniq``/``uniqState``+``uniqMerge``, ``quantileTDigest``) done with
Spark's built-in mergeable sketches.

Oracle strategy. Sketch ESTIMATES are engine-specific (Spark's HLL++
and DuckDB's approx_count_distinct disagree by design), so a value
hash can never compare raw estimates across engines. Each binding
therefore outputs (a) the EXACT aggregate — the cross-engine anchor
the oracle recomputes — and (b) the sketch's error *contract* as a
boolean (``abs(est - exact) <= tol * exact``), which the oracle states
as its expected value (TRUE). The driver's hash compare then fails if
Spark's sketch ever violates its own error bound, while the exact
columns get the usual bit-level check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.tables import load_table


# --- ClickHouse uniq / uniqState+uniqMerge parity ---
def approx_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type three ways: exact
    ``count_distinct`` (the oracle anchor; reference data_quality.py
    uniqExact), HyperLogLog++ ``approx_count_distinct`` (ClickHouse
    ``uniq``), and a DataSketches-HLL split->sketch->merge round trip
    (``hll_sketch_agg`` on two disjoint halves of the data,
    ``hll_union_agg`` to merge — the ``uniqState``/``uniqMerge``
    partial-state model where a 100 TB rollup stores sketches, never
    history). The sketch estimates surface as error-contract booleans;
    the exact column is value-checked bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.05).alias("_hllpp"),
    )
    # disjoint halves by a deterministic row hash — stand-ins for two
    # ingest batches whose per-batch sketches an AggregatingMergeTree
    # would persist
    half = ev.withColumn(
        "_h", (F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10).cast("long") % 2)
    )
    partials = half.groupBy("event_type", "_h").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string")).alias("_sk")
    )
    merged = partials.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_merged_est")
    )
    out = exact.join(merged, "event_type")
    tol = 0.2
    return out.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_hllpp") - F.col("exact_users"))
            <= F.lit(tol) * F.col("exact_users")
        ).alias("hllpp_ok"),
        (
            F.abs(F.col("_merged_est") - F.col("exact_users"))
            <= F.lit(tol) * F.col("exact_users")
        ).alias("merge_ok"),
    ).orderBy("event_type")


APPROX_DISTINCT_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS hllpp_ok,
       TRUE AS merge_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- ClickHouse quantileTDigest parity ---
def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90 of event value per event_type: exact interpolated
    percentile (the oracle anchor, = DuckDB quantile_cont) plus
    ``approx_percentile`` — Spark's mergeable quantile sketch, the
    map-side-combinable move once a group no longer fits one task's
    sort (ClickHouse ``quantileTDigest``). The sketch returns a member
    of the dataset, so its error vs the interpolated exact value is
    bounded by the local order-statistic gap; the contract boolean
    uses a 10%-of-range tolerance."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pct = F.expr("percentile(value, array(0.5D, 0.9D))")
    apct = F.expr("approx_percentile(value, array(0.5D, 0.9D), 10000)")
    agg = ev.groupBy("event_type").agg(
        pct[0].alias("p50"),
        pct[1].alias("p90"),
        apct[0].alias("_a50"),
        apct[1].alias("_a90"),
        (F.max("value") - F.min("value")).alias("_span"),
    )
    tol = 0.1
    return agg.select(
        "event_type",
        "p50",
        "p90",
        (F.abs(F.col("_a50") - F.col("p50")) <= F.lit(tol) * F.col("_span")).alias(
            "sketch_p50_ok"
        ),
        (F.abs(F.col("_a90") - F.col("p90")) <= F.lit(tol) * F.col("_span")).alias(
            "sketch_p90_ok"
        ),
    ).orderBy("event_type")


QUANTILE_SKETCH_SQL = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       TRUE AS sketch_p50_ok,
       TRUE AS sketch_p90_ok
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


BINDINGS = [
    ("approx_distinct_rollup", approx_distinct_rollup, APPROX_DISTINCT_SQL),
    ("quantile_sketch_rollup", quantile_sketch_rollup, QUANTILE_SKETCH_SQL),
]
