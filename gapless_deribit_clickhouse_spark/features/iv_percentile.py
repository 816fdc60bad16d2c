"""IV percentile and IV rank over a trailing lookback.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
iv_percentile.py:25-152``. The reference approximates "lookback_days"
as a ROW count (days ÷ inferred median sampling interval,
iv_percentile.py:68-73); the Spark engine uses true event-time windows
(documented improvement, SURVEY §7.3.1). ``min_periods`` defaults to
half the nominal window, mirroring the reference.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from gapless_deribit_clickhouse_spark.features.config import DEFAULT
from gapless_deribit_clickhouse_spark.operators.rolling import (
    rolling_minmax_rank,
    rolling_percentile_rank,
)


def _default_min_periods(lookback_days: int) -> int:
    """Half the nominal number of 15-minute bars in the lookback."""
    return max(1, (lookback_days * 86400 // 900) // 2)


def iv_percentile(
    df: DataFrame,
    ts_col: str = "ts",
    keys: Sequence[str] = (),
    lookback_days: int = DEFAULT.iv_lookback_days,
    min_periods: int | None = None,
) -> DataFrame:
    """Percent of trailing-window ``iv_close`` values <= current, ×100
    ∈ [0,100]."""
    mp = min_periods if min_periods is not None else _default_min_periods(lookback_days)
    return rolling_percentile_rank(
        df,
        ts_col=ts_col,
        value_col="iv_close",
        keys=keys,
        lookback_seconds=lookback_days * 86400,
        min_periods=mp,
        out_col="iv_percentile",
    )


def iv_rank(
    df: DataFrame,
    lookback_days: int = DEFAULT.iv_lookback_days,
    min_periods: int | None = None,
) -> DataFrame:
    """(iv − rolling_min)/(rolling_max − rolling_min) × 100 over the
    ``iv_close`` series in ``ts`` order; null on a degenerate window."""
    mp = min_periods if min_periods is not None else _default_min_periods(lookback_days)
    return rolling_minmax_rank(
        df,
        ts_col="ts",
        value_col="iv_close",
        keys=(),
        lookback_seconds=lookback_days * 86400,
        min_periods=mp,
        out_col="iv_rank",
    )
