"""Event-time rolling analytics: trailing percentile rank and min-max
rank over a time-based lookback.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
iv_percentile.py:25-152`` — pandas converts a day lookback to a ROW
count via the inferred median sampling interval, then runs an O(n·w)
numpy kernel (``raw=True``). Spark-side we use TRUE event-time
windows (``rangeBetween`` on epoch seconds) — semantically cleaner on
irregular grids (SURVEY §7.3.1 documents the deviation); a row-count
mode is available for bit-parity with the reference.

Two implementations of the percentile rank (same semantics, pinned to
each other by tests):

- ``rolling_percentile_rank``: grouped ``applyInPandas`` — Arrow-
  batched numpy kernel per series, O(n·w) with a searchsorted window
  start. The scale path: series are partitioned by key, each key's
  bars fit one task (a 6-year 15-min series is ~2·10^5 rows).
- ``rolling_percentile_rank_join``: pure-DataFrame range self-join —
  what the DuckDB oracle runs; quadratic-in-window but fully
  declarative.

``rolling_minmax_rank`` (IV Rank) is a pure window aggregate — no UDF,
no join.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gapless_deribit_clickhouse_spark.functions.conditional import nullif_zero


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

    ``bucket_seconds`` (>= lookback) makes the kernel bucket-parallel:
    groups are (key, floor(ts/bucket)) with every row union-copied into
    the next bucket as a window DONOR — a trailing frame spans at most
    two adjacent buckets, so each group holds every frame member for
    its own rows. The kernel ranks only own rows; donor copies are
    dropped from the output. Default (None) keeps one group per key —
    right for resampled-bar series (a 6-year 15-min series is one
    in-task array); pass a bucket for raw-trade-grain inputs where a
    single key's history exceeds one task."""
    # copy the fields: StructType.add mutates in place, and we must not
    # modify the input DataFrame's schema object
    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())])
    lb = float(lookback_seconds)
    mp = int(min_periods)
    ts_name, v_name = ts_col, value_col

    bucketed = bucket_seconds is not None
    if bucketed:
        width = float(bucket_seconds)
        if width <= 0:
            raise ValueError(f"bucket_seconds must be positive, got {width}")
        if width < lb:
            raise ValueError(
                f"bucket_seconds ({width}) must be >= lookback_seconds ({lb}): "
                "a trailing frame may only span two adjacent buckets"
            )
        epoch = F.col(ts_col).cast("double")
        bucket = F.floor(epoch / F.lit(width))
        own = df.withColumn("__bucket", bucket).withColumn("__carry", F.lit(False))
        carry = (
            df.withColumn("__bucket", bucket + 1).withColumn("__carry", F.lit(True))
        )
        grouped = own.unionByName(carry)
        group_cols = [*keys, "__bucket"]
        kernel_schema = T.StructType(
            list(grouped.schema.fields) + [T.StructField(out_col, T.DoubleType())]
        )
    else:
        grouped = df
        group_cols = list(keys)
        kernel_schema = schema

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_name]).reset_index(drop=True)
        col = pdf[ts_name]
        # numeric ts columns are epoch SECONDS already; casting them
        # through datetime64[us] would silently rescale by 1e-6 and
        # make every trailing window span the whole series
        if pd.api.types.is_numeric_dtype(col):
            ts = col.to_numpy(dtype="float64")
        else:
            ts = col.to_numpy(dtype="datetime64[us]").astype("int64") / 1e6
        v = pdf[v_name].to_numpy(dtype="float64")
        n = len(pdf)
        out = np.full(n, np.nan)
        starts = np.searchsorted(ts, ts - lb, side="left")
        # window END includes ALL rows tied on the current timestamp
        # (matching the join twin's `r.ts <= l.ts`), not just rows that
        # happened to sort earlier — tied rows would otherwise get
        # shuffle-order-dependent results
        ends = np.searchsorted(ts, ts, side="right")
        own_rows = (
            (~pdf["__carry"].to_numpy()).nonzero()[0] if bucketed else range(n)
        )
        for i in own_rows:
            w = v[starts[i] : ends[i]]
            if len(w) >= mp:
                out[i] = 100.0 * np.count_nonzero(w <= v[i]) / len(w)
        pdf[out_col] = out
        return pdf

    ranked = grouped.groupBy(*group_cols).applyInPandas(kernel, schema=kernel_schema)
    if bucketed:
        ranked = ranked.filter(~F.col("__carry")).drop("__bucket", "__carry")
    return ranked


def rolling_percentile_rank_join(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str],
    lookback_seconds: int,
    min_periods: int = 1,
) -> DataFrame:
    """Declarative twin of ``rolling_percentile_rank``: range self-join
    + conditional count. Used as the oracle shape and for plans where
    the optimizer's range-join handling wins.

    Null-safe key equality keeps NULL-key groups (a plain ``=`` join
    would silently drop them while the kernel ranks them), and a row
    tag keeps fully-duplicate rows distinct through the groupBy."""
    df = df.withColumn("__rowtag", F.monotonically_increasing_id())
    left = df.alias("l")
    right = df.select(*keys, ts_col, value_col).alias("r")
    on = [F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in keys] + [
        F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {lookback_seconds} SECOND"),
        F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}"),
    ]
    joined = left.join(right, on=on, how="inner")
    group_cols = [F.col(f"l.{c}") for c in df.columns]
    cnt = F.count(F.lit(1))
    leq = F.count(F.when(F.col(f"r.{value_col}") <= F.col(f"l.{value_col}"), F.lit(1)))
    return (
        joined.groupBy(*group_cols)
        .agg(
            F.when(cnt >= min_periods, 100.0 * leq / cnt).alias("pct_rank"),
        )
        .toDF(*df.columns, "pct_rank")
        .drop("__rowtag")
    )


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

    ``bucket_seconds`` (>= lookback) opts into the bucket-parallel
    plan (VERDICT r2 #8): partitioning the range window by key alone
    bounds parallelism at key cardinality (2 underlyings = 2 tasks).
    Bucketed, rows are hashed to (key, floor(ts/bucket)) and each row
    is ALSO union-copied into the next bucket: a trailing frame
    ``[t−L, t]`` with ``bucket >= L`` only ever reaches back into the
    previous bucket, so partition (key, b) = own rows of b + copies of
    b−1 contains every frame member. The range frame then excludes
    anything older than ``t−L`` exactly as before — identical results,
    parallelism = keys × buckets, at the cost of 2× rows through one
    shuffle (small rows: ts, value, keys). Copies only donate to
    frames; their own output rows are dropped.

    Default (None) keeps ONE window per key with no carry copies —
    matching ``rolling_percentile_rank``'s opt-in semantics (ADVICE
    r3): right for low-row-count-per-key inputs (resampled bars),
    where doubling rows through the shuffle costs more than the
    parallelism buys. Pass a bucket for raw-grain or few-key inputs.
    """
    lb = int(lookback_seconds)
    epoch = F.col(ts_col).cast("long")
    v = F.col(value_col)

    if bucket_seconds is None:
        w = Window.partitionBy(*keys).orderBy(epoch).rangeBetween(-lb, 0)
        lo, hi, cnt = F.min(v).over(w), F.max(v).over(w), F.count(v).over(w)
        rank = (v - lo) / nullif_zero(hi - lo) * 100.0
        return df.withColumn(out_col, F.when(cnt >= min_periods, rank))

    # same contract as rolling_percentile_rank: reject a non-positive
    # width instead of silently clamping to a per-second explosion
    width = int(bucket_seconds)
    if width <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    if width < lb:
        raise ValueError(
            f"bucket_seconds ({width}) must be >= lookback_seconds ({lb}): "
            "a trailing frame may only span two adjacent buckets"
        )
    bucket = F.floor(epoch / F.lit(width))
    own = df.withColumn("__bucket", bucket).withColumn("__carry", F.lit(False))
    carry = df.withColumn("__bucket", bucket + 1).withColumn("__carry", F.lit(True))
    u = own.unionByName(carry)
    w = (
        Window.partitionBy(*keys, "__bucket")
        .orderBy(epoch)
        .rangeBetween(-lb, 0)
    )
    lo, hi, cnt = F.min(v).over(w), F.max(v).over(w), F.count(v).over(w)
    rank = (v - lo) / nullif_zero(hi - lo) * 100.0
    return (
        u.withColumn(out_col, F.when(cnt >= min_periods, rank))
        .filter(~F.col("__carry"))
        .drop("__bucket", "__carry")
    )
