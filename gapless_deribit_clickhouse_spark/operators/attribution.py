"""Conversion attribution over an ordered event stream.

The events-tier behavioral family next to funnels and journeys
(SURVEY §2.9): which touch (view/click/...) gets credit for a
conversion. Last-touch is the carry-forward shape ClickHouse users
build from ``last_value(... IGNORE NULLS)``; no self-join with the
touch set is ever needed.

Scale design: ONE shuffle on the user key; the three ignore-nulls
carry columns ride a single window (same partitioning and ordering),
and the conversion filter prunes the output to conversion rows before
anything else happens. Per-row state in the window evaluator is three
scalars — the frame is running (UNBOUNDED PRECEDING..CURRENT ROW), so
Spark streams it without buffering the frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the events-table contract: a touch is a view or click, a conversion
# a purchase; (ts, event_id) is unique per user, so the running frame
# has no peer ambiguity
_ORDER = ("ts", "event_id")
_TOUCH_TYPES = ("view", "click")
_CONVERT = "purchase"


def attribution_last_touch(df: DataFrame) -> DataFrame:
    """For every conversion event, the most recent PRECEDING touch by
    the same ``user_id``, provided it happened within an hour;
    conversions with no in-window touch keep NULL attribution columns
    (they still appear — unattributed conversions are the metric's
    denominator).

    The three carried attributes (touch ts/id/type) are separate
    ignore-nulls ``last`` columns over the SAME window: they are null
    on exactly the same rows, so all three resolve to the same touch
    row — no struct crosses the engine boundary, which keeps the
    DuckDB oracle a verbatim transliteration.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin(*_TOUCH_TYPES)
    t_ts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    t_id = F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True).over(w)
    t_ty = F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w)
    age = F.col("ts").cast("double") - F.col("__t_ts").cast("double")
    within = age <= F.lit(3600.0)
    return (
        df.withColumn("__t_ts", t_ts)
        .withColumn("__t_id", t_id)
        .withColumn("__t_ty", t_ty)
        .filter(F.col("event_type") == _CONVERT)
        .select(
            F.col("event_id"),
            F.col("user_id"),
            F.col("ts"),
            F.when(within, F.col("__t_id")).alias("touch_event_id"),
            F.when(within, F.col("__t_ty")).alias("touch_type"),
            F.when(within, age).alias("touch_age_s"),
        )
    )


def attribution_first_touch(df: DataFrame) -> DataFrame:
    """First-touch credit with EPISODE RESET: each user's stream is
    segmented into episodes ending at a conversion (a running count of
    PRIOR conversions is the episode id), and the conversion is
    attributed to the episode's FIRST touch — so credit never leaks
    across a previous purchase the way a global first-touch would.

    Costs one more exchange than last-touch: the episode id comes from
    the user-partitioned running count, then the episode-first carry
    re-partitions on (user, episode) — a strictly finer, therefore
    better-balanced, key. Both stages are running ROWS frames (no
    frame buffering); the running conversion count ends at 1 PRECEDING
    (the conversion row itself belongs to the episode it closes).
    """
    w = Window.partitionBy("user_id").orderBy(*_ORDER)
    prior_conv = F.coalesce(
        F.sum((F.col("event_type") == _CONVERT).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    seg = df.withColumn("__ep", prior_conv)
    we = (
        Window.partitionBy("user_id", "__ep")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin(*_TOUCH_TYPES)
    f_ts = F.first(F.when(is_touch, F.col("ts")), ignorenulls=True).over(we)
    f_id = F.first(F.when(is_touch, F.col("event_id")), ignorenulls=True).over(we)
    f_ty = F.first(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(we)
    return (
        seg.withColumn("__f_ts", f_ts)
        .withColumn("__f_id", f_id)
        .withColumn("__f_ty", f_ty)
        .filter(F.col("event_type") == _CONVERT)
        .select(
            F.col("event_id"),
            F.col("user_id"),
            F.col("ts"),
            F.col("__f_id").alias("touch_event_id"),
            F.col("__f_ty").alias("touch_type"),
            (
                F.col("ts").cast("double") - F.col("__f_ts").cast("double")
            ).alias("touch_age_s"),
        )
    )
