from gapless_deribit_clickhouse_spark.functions.conditional import (
    avg_if,
    count_if,
    nullif_zero,
    safe_div,
    stddev_pop_if,
    sum_if,
)
from gapless_deribit_clickhouse_spark.functions.timeutils import (
    dte_days,
    time_bucket,
)

__all__ = [
    "avg_if",
    "count_if",
    "nullif_zero",
    "safe_div",
    "stddev_pop_if",
    "sum_if",
    "dte_days",
    "time_bucket",
]
