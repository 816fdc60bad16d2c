"""Stream-stream joins: watermarked, time-bounded enrichment.

The batch tier enriches trades with the latest spot quote via a
broadcast/as-of join (`features/spot_provider.py`,
`operators/asof.py`); this is the streaming-native sibling — two LIVE
feeds joined within a time tolerance, the shape the reference's
ingest loop approximates by re-querying the spot table per page
(reference `features/spot_provider.py` fetch-then-merge).

Spark semantics that make this safe unattended:

- BOTH sides carry a watermark and the join condition bounds spot_ts
  to ``[trade_ts - tolerance, trade_ts]``, so the state store evicts
  every buffered row once the watermark passes its reach — state is
  O(rate x (watermark + tolerance)) per key, never unbounded.
- The runtime partitions both sides by the equi-join key: each
  executor's symmetric hash join sees only its keys' rows. At 100 TB/
  day this scales horizontally with `spark.sql.shuffle.partitions`
  (state keyed by (key, partition)).
- ``how='leftOuter'`` emits unmatched trades with NULL spot columns
  once the watermark proves no matching spot can arrive — the
  streaming equivalent of the batch enrich's coalesce-to-NULL path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_enrich(
    trades: DataFrame,
    spots: DataFrame,
    tolerance: str = "60 seconds",
    watermark: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join two streams: each trade (``underlying``, ``ts``) pairs with
    every spot quote (``underlying``, ``spot_ts``) for the same
    underlying whose ``spot_ts`` falls in ``[ts - tolerance, ts]`` (never a FUTURE quote —
    leakage-free, like the batch as-of join).

    Returns the trade columns plus the spot side's non-key columns and
    ``spot_age_s`` (ts - spot_ts in fractional seconds). A trade
    may match several quotes inside the tolerance; keep all (quote
    density analysis) or reduce downstream — chained stateful
    aggregation is supported, or land pairs and take the batch-tier
    ``min_by(spot_age_s)`` per trade in ``foreachBatch``.
    """
    t = trades.withWatermark("ts", watermark)
    s = spots.withWatermark("spot_ts", watermark).withColumnRenamed("underlying", "__spot_key")
    cond = (
        (F.col("underlying") == F.col("__spot_key"))
        & (F.col("spot_ts") >= F.col("ts") - F.expr(f"INTERVAL {tolerance}"))
        & (F.col("spot_ts") <= F.col("ts"))
    )
    joined = t.join(s, cond, how)
    age = (F.col("ts").cast("double") - F.col("spot_ts").cast("double")).alias("spot_age_s")
    return joined.drop("__spot_key").withColumn("spot_age_s", age)

