"""Sessionization: group per-user event streams into sessions split
by inactivity gaps — the standard clickstream / training-log shaping
operator (not in the reference, which has no multi-entity event data;
part of the large-scale-pipeline tier).

Scale design: ONE shuffle, keyed by the user — session assignment is
a lag + running-sum window inside each user partition (gaps-and-
islands), and the per-session rollup reuses the same partitioning
(Catalyst plans the groupBy after the window without a second
exchange when the grouping keys prefix the partition keys). User keys
are high-cardinality and near-uniform, so no skew handling is needed;
a pathological power-user key would be capped by AQE skew splitting
in the rollup. The streaming variant is ``F.session_window`` — the
engine-native merging session window with watermark-bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Append ``session_seq`` (1-based per user): a new session starts
    at the first event and whenever the gap from the previous event
    exceeds ``gap_seconds``."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col(ts_col).cast("double") - prev.cast("double") > gap_seconds),
        1,
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_seq", F.sum(is_new).over(running))


def session_stats(df: DataFrame) -> DataFrame:
    """One row per (``user_id``, session) of ``ts`` events split at
    30-minute gaps: start/end, event count, duration.
    Reuses the sessionize shuffle — grouping keys are a superset of
    the window partition key."""
    s = sessionize(df, "user_id", "ts", 1800)
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (
                F.max(F.col("ts").cast("double"))
                - F.min(F.col("ts").cast("double"))
            ).alias("duration_s"),
        )
    )


def streaming_sessionize(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming-native sessions: merging session windows with
    watermark-bounded state (a session closes — and emits — once the
    watermark passes its end + gap)."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window(F.col("ts"), gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
