"""Human-readable validation report.

Parity with the reference reporter
(``/root/reference/src/gapless_deribit_clickhouse/validation/reporter.py:32-221``):
one formatted text block covering infrastructure (schema drift),
global quality metrics, and the top gaps — but the inputs are the
engine's own artifacts (``schema.validate_table`` drifts and the
DataFrames from ``validation.quality``) instead of ClickHouse dicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gapless_deribit_clickhouse_spark.schema.drift import Drift
from gapless_deribit_clickhouse_spark.schema.loader import TableSchema
from gapless_deribit_clickhouse_spark.validation.quality import (
    coverage_by_group,
    gap_analysis,
    quality_metrics,
)

WIDTH = 60
MAX_GAPS_SHOWN = 5


def format_validation_report(
    drifts: list[Drift],
    quality_row: dict,
    mode: str = "[spark-local]",
    gaps: list[dict] | None = None,
    layout: TableSchema | None = None,
) -> str:
    """Render the three-section report (infra / quality / gaps)."""
    bar = "=" * WIDTH
    lines = [bar, f"Validation Report {mode}", bar, "", "Infrastructure:"]
    if not drifts:
        lines.append("  [OK] schema matches SSoT")
    else:
        lines.append(f"  [!!] schema drift ({len(drifts)} finding(s))")
        lines.extend(f"       - {d}" for d in drifts)
    if layout is not None:
        if layout.partition_by:
            lines.append(f"  [OK] partitioned by: {', '.join(layout.partition_by)}")
        if layout.sort_within_partitions:
            lines.append(
                f"  [OK] sorted within partitions: {', '.join(layout.sort_within_partitions)}"
            )

    lines += ["", "Data quality:"]
    if quality_row:
        total = quality_row.get("total_rows", 0)
        uniq = quality_row.get("unique_ids", 0)
        lines.append(f"  rows: {total:,}  unique ids: {uniq:,}")
        dedup = quality_row.get("dedup_rate")
        if dedup is not None:
            flag = "OK" if dedup >= 0.999 else "!!"
            lines.append(f"  [{flag}] dedup rate: {dedup:.4%}")
        if quality_row.get("min_ts") is not None:
            lines.append(
                f"  span: {quality_row['min_ts']} .. {quality_row['max_ts']}"
                f"  ({quality_row.get('span_hours', 0.0):.1f} h,"
                f" {quality_row.get('rows_per_hour', 0.0):.1f} rows/h)"
            )
        for key, value in sorted(quality_row.items()):
            if key.endswith("_null_or_zero_rate"):
                col = key[: -len("_null_or_zero_rate")]
                # an empty table's rates are null
                flag = "OK" if value is not None and value <= 0.05 else "!!"
                shown = "n/a" if value is None else f"{value:.4%}"
                lines.append(f"  [{flag}] {col} null/zero rate: {shown}")
    else:
        lines.append("  [!!] no quality metrics available")

    lines += ["", "Gaps:"]
    if gaps:
        lines.append(f"  {len(gaps)} gap(s) above threshold; top {MAX_GAPS_SHOWN}:")
        for g in gaps[:MAX_GAPS_SHOWN]:
            lines.append(
                f"    {g['gap_start']} -> {g['gap_end']}  ({g['gap_hours']:.1f} h)"
            )
    else:
        lines.append("  [OK] no gaps above threshold")
    lines.append(bar)
    return "\n".join(lines)


def build_validation_report(
    spark: SparkSession,
    df: DataFrame,
    layout: TableSchema | None = None,
    gap_threshold_hours: float = 1.0,
    mode: str = "[spark-local]",
) -> str:
    """End-to-end report for one table: drift + quality + gaps.

    Runs two jobs (one global aggregate, one gap window); both are
    plans over the same scan so the optimizer reuses pushdown.
    """
    from gapless_deribit_clickhouse_spark.schema.drift import validate_table

    drifts = validate_table(spark, layout, df=df) if layout is not None else []
    qrow = quality_metrics(df).first()
    gaps = [
        r.asDict()
        for r in gap_analysis(df, threshold_hours=gap_threshold_hours)
        .limit(MAX_GAPS_SHOWN)
        .collect()
    ]
    return format_validation_report(
        drifts, qrow.asDict() if qrow else {}, mode=mode, gaps=gaps, layout=layout
    )


def print_validation_summary(spark: SparkSession, df: DataFrame, **kwargs) -> None:
    print(build_validation_report(spark, df, **kwargs))


__all__ = [
    "format_validation_report",
    "build_validation_report",
    "print_validation_summary",
    "coverage_by_group",
]
