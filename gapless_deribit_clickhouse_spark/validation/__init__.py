from gapless_deribit_clickhouse_spark.validation.quality import (
    check_dedup_invariant,
    coverage_by_group,
    gap_analysis,
    quality_metrics,
)
from gapless_deribit_clickhouse_spark.validation.reporter import (
    build_validation_report,
    format_validation_report,
    print_validation_summary,
)

__all__ = [
    "check_dedup_invariant",
    "coverage_by_group",
    "gap_analysis",
    "quality_metrics",
    "build_validation_report",
    "format_validation_report",
    "print_validation_summary",
]
