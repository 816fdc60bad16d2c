"""Data-quality metrics, per-group coverage, and gap analysis.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/validation/
data_quality.py`` — server-side SQL aggregates:
- global quality (count, uniqExact, span, null/zero rates, trades/hr)
  at :30-45, 84-136;
- coverage GROUP BY underlying at :69-81, 182-226;
- gap report via ``leadInFrame`` at :48-66, 139-179.

``check_dedup_invariant`` has no reference counterpart: it checks the
assumption that lets ``fetch_trades`` filter below the FINAL window.

Scale notes: ``countDistinct`` is exact to match ``uniqExact``; at
100 TB swap for ``approx_count_distinct`` (noted in SURVEY §2.4 A11).
The gap window sorts within each group key; with no group key (what
``validation/reporter.py`` asks for) it sorts the whole frame in one
task, which the reference's volume (~2M trades a year) fits easily.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.exceptions import SchemaError
from gapless_deribit_clickhouse_spark.functions.conditional import count_if, safe_div

if TYPE_CHECKING:
    from gapless_deribit_clickhouse_spark.schema.loader import TableSchema


def quality_metrics(df: DataFrame, approx_distinct: bool = False) -> DataFrame:
    """One-row global quality aggregate (reference data_quality.py:30-45):
    total rows, exact distinct ``trade_id``s, dedup rate, ``timestamp``
    span, null-or-zero rates of ``iv`` and ``index_price``, rows per
    hour. An empty frame gives one row with ``total_rows`` 0 and null
    rates.

    ``approx_distinct=True`` swaps exact ``countDistinct`` (which
    inserts an Expand + second shuffle keyed by the id — the one
    expensive term at 100 TB) for HyperLogLog++
    ``approx_count_distinct`` (single-pass, constant memory, ~2%
    relative error); the reference's `uniqExact` semantics remain the
    default."""
    n = F.count(F.lit(1))
    uniq = (
        F.approx_count_distinct(F.col("trade_id"))
        if approx_distinct
        else F.countDistinct(F.col("trade_id"))
    )
    span_hours = (
        F.max("timestamp").cast("long") - F.min("timestamp").cast("long")
    ).cast("double") / 3600.0
    aggs = [
        n.alias("total_rows"),
        uniq.alias("unique_ids"),
        safe_div(uniq.cast("double"), n).alias("dedup_rate"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
        span_hours.alias("span_hours"),
        (n.cast("double") / F.greatest(span_hours, F.lit(1e-9))).alias("rows_per_hour"),
    ]
    for c in ("iv", "index_price"):
        bad = count_if(F.col(c).isNull() | (F.col(c) == 0))
        aggs.append(safe_div(bad.cast("double"), n).alias(f"{c}_null_or_zero_rate"))
    return df.agg(*aggs)


def check_dedup_invariant(df: DataFrame, schema: TableSchema) -> None:
    """Raise ``SchemaError`` when some ``schema.dedup_key`` value has
    more than one distinct ``schema.dedup_invariant`` tuple, naming up
    to five such keys. ``fetch_trades`` filters on those columns
    below the FINAL window, which is exact only while every version of
    a key agrees on them (one aggregate job)."""
    keys, invariant = list(schema.dedup_key), list(schema.dedup_invariant)
    if not keys or not invariant:
        return
    bad = (
        df.groupBy(*keys)
        .agg(F.countDistinct(F.struct(*invariant)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select(*keys)
        .limit(5)
        .collect()
    )
    if bad:
        names = ", ".join(str(r[0] if len(keys) == 1 else tuple(r)) for r in bad)
        raise SchemaError(
            f"{schema.table}: versions of one {'/'.join(keys)} disagree on "
            f"{', '.join(invariant)}: {names}"
        )


def coverage_by_group(df: DataFrame) -> DataFrame:
    """Per-underlying coverage stats (reference data_quality.py:69-81)."""
    return df.groupBy("underlying").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct(F.col("trade_id")).alias("unique_ids"),
        F.countDistinct(F.col("instrument_name")).alias("unique_instruments"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
    )


def gap_analysis(
    df: DataFrame,
    ts_col: str = "timestamp",
    group_cols: tuple[str, ...] = (),
    threshold_hours: float = 1.0,
) -> DataFrame:
    """Top-100 inter-row gaps exceeding ``threshold_hours`` (reference
    data_quality.py:48-66): ``lead(ts) OVER (PARTITION BY group_cols
    ORDER BY ts)``, gap in hours, DESC limit. Output: group cols +
    gap_start, gap_end, gap_hours.

    With ``group_cols=()`` the window has no partition key, so Spark
    sorts every row in one task; at the reference's volume (~2M trades
    a year) one task holds that easily."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(ts_col))
    gaps = df.select(
        *group_cols,
        F.col(ts_col).alias("gap_start"),
        F.lead(F.col(ts_col)).over(w).alias("gap_end"),
    )
    gap_hours = (F.col("gap_end").cast("double") - F.col("gap_start").cast("double")) / 3600.0
    return (
        gaps.withColumn("gap_hours", gap_hours)
        .filter(F.col("gap_hours") > threshold_hours)
        .orderBy(F.col("gap_hours").desc(), F.col("gap_start"))
        .limit(100)
    )
