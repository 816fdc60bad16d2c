"""Event-time rolling analytics: trailing percentile rank and min-max
rank over a time-based lookback.

Reference: the reference's ``features/iv_percentile.py:25-152`` —
pandas converts a day lookback to a ROW count via the inferred median
sampling interval, then runs an O(n·w) numpy kernel (``raw=True``).
Spark-side both operators use TRUE event-time windows instead
(semantically cleaner on irregular grids; SURVEY §7.3.1 documents the
deviation): one ``rangeBetween`` window per key over the timestamp in
epoch microseconds, so sub-second frames are exact and every row tied
on the current timestamp is in the frame. Both stay in the JVM: no
Python worker, no self-join. The percentile's cost is O(n·w) per key,
as the reference's kernel; the min-max rank's frame aggregates are
Spark's sliding min/max/count.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gapless_deribit_clickhouse_spark.functions.conditional import nullif_zero


def _trailing_window(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    lookback_seconds: int,
    bucket_seconds: float | None,
    out_col: str,
    frame: Mapping[str, Column],
    rank: Column,
) -> DataFrame:
    """``df`` with ``out_col = rank``, where ``rank`` reads the columns
    that ``frame`` names, each its aggregate over the trailing frame
    ``[ts − lookback, ts]`` (inclusive) per key. Each aggregate is
    evaluated once: Catalyst does not merge equal window expressions,
    so one used twice inside ``rank`` would be computed twice.

    The order key is ``ts`` in epoch microseconds: ``unix_micros`` of a
    timestamp column (a ``timestamp_ntz`` one read in the session's
    zone, UTC on every package session), a numeric column's epoch
    seconds × 10⁶ rounded to a long.

    ``bucket_seconds`` (>= lookback) makes the window bucket-parallel:
    partitioning by key alone bounds parallelism at key cardinality
    (2 underlyings = 2 tasks). Bucketed, rows go to (key, bucket of
    ``bucket_seconds``) and each row is ALSO union-copied into the next
    bucket: a trailing frame with ``bucket >= lookback`` only reaches
    back into the previous bucket, so partition (key, b) = own rows of
    b + copies of b−1 holds every frame member, and the range frame
    excludes anything older than ``ts − lookback`` exactly as before.
    Identical results, parallelism = keys × buckets, at the cost of 2×
    rows through one shuffle. Copies only donate to frames; their own
    output rows are dropped. Default (None) keeps ONE window per key
    with no copies: right for low-row-count-per-key inputs (resampled
    bars), where doubling rows through the shuffle costs more than the
    parallelism buys. Pass a bucket for raw-grain or few-key inputs.
    """
    if isinstance(df.schema[ts_col].dataType, T.NumericType):
        ts_us = F.round(F.col(ts_col) * 1_000_000).cast("long")
    else:
        ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lb_us = int(lookback_seconds) * 1_000_000

    def ranked(d: DataFrame, w: WindowSpec) -> DataFrame:
        framed = d.withColumns({c: agg.over(w) for c, agg in frame.items()})
        return framed.withColumn(out_col, rank).drop(*frame)

    if bucket_seconds is None:
        w = Window.partitionBy(*keys).orderBy(ts_us).rangeBetween(-lb_us, 0)
        return ranked(df, w)

    # reject a non-positive width instead of a per-row bucket explosion
    width_us = round(float(bucket_seconds) * 1_000_000)
    if width_us <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    if width_us < lb_us:
        raise ValueError(
            f"bucket_seconds ({bucket_seconds}) must be >= lookback_seconds "
            f"({lookback_seconds}): a trailing frame may only span two adjacent buckets"
        )
    # the bucket's start in epoch microseconds: exact long arithmetic
    bucket = ts_us - F.pmod(ts_us, F.lit(width_us))
    own = df.withColumn("__bucket", bucket).withColumn("__carry", F.lit(False))
    carry = df.withColumn("__bucket", bucket + width_us).withColumn("__carry", F.lit(True))
    w = Window.partitionBy(*keys, "__bucket").orderBy(ts_us).rangeBetween(-lb_us, 0)
    return (
        ranked(own.unionByName(carry), w)
        .filter(~F.col("__carry"))
        .drop("__bucket", "__carry")
    )


def rolling_percentile_rank(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str],
    lookback_seconds: int,
    min_periods: int = 1,
    out_col: str = "pct_rank",
    bucket_seconds: float | None = None,
) -> DataFrame:
    """Trailing event-time percentile: % of values in
    ``[ts − lookback, ts]`` (inclusive) that are <= the current value,
    ×100; null when fewer than ``min_periods`` observations.

    A null value counts in the denominator and is <= nothing, so a
    null current value ranks 0. ``bucket_seconds``: see
    ``_trailing_window``."""
    v = F.col(value_col)
    frame = {"__n": F.count(F.lit(1)), "__values": F.collect_list(v)}
    n = F.col("__n")
    le = F.size(F.filter(F.col("__values"), lambda x: x <= v))
    rank = F.when(n >= min_periods, 100.0 * le / n)
    return _trailing_window(df, ts_col, keys, lookback_seconds, bucket_seconds, out_col, frame, rank)


def rolling_minmax_rank(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str],
    lookback_seconds: int,
    min_periods: int = 1,
    out_col: str = "minmax_rank",
    bucket_seconds: float | None = None,
) -> DataFrame:
    """IV-Rank: (v − rolling_min) / (rolling_max − rolling_min) × 100
    over the trailing event-time window; degenerate window (max==min)
    -> null (reference iv_percentile.py:142-147, inf -> NaN).
    ``bucket_seconds``: see ``_trailing_window``."""
    v = F.col(value_col)
    frame = {"__lo": F.min(v), "__hi": F.max(v), "__cnt": F.count(v)}
    lo, hi, cnt = F.col("__lo"), F.col("__hi"), F.col("__cnt")
    rank = F.when(cnt >= min_periods, (v - lo) / nullif_zero(hi - lo) * 100.0)
    return _trailing_window(df, ts_col, keys, lookback_seconds, bucket_seconds, out_col, frame, rank)
