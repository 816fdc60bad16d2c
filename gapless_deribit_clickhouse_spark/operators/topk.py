"""Top-k and top-1-per-group operators.

- ``ordered_limit``: the reference's fetch path ``ORDER BY timestamp
  DESC LIMIT n`` (``/root/reference/src/gapless_deribit_clickhouse/
  api.py:164-175``). Spark compiles orderBy+limit into TakeOrderedAndProject
  — a per-partition top-k + driver merge, NO global sort: this is the
  scale-safe shape (600M rows -> k rows without a full shuffle).
- ``top1_per_group``: the reference's front-month selection uses
  ClickHouse ``argMin(tuple(...), dte)`` explicitly instead of
  ROW_NUMBER for memory (``features/contract_selector.py:10-15,34-62``).
  Spark's same trick is ``min_by(struct(payload), ordering)`` inside a
  hash aggregate: one shuffle, partial-aggregated map-side, no sort and
  no per-group row numbering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ordered_limit(df: DataFrame, order: Sequence[Column], n: int) -> DataFrame:
    """DESC/ASC order + limit; physical plan = TakeOrderedAndProject."""
    return df.orderBy(*order).limit(n)


def top1_per_group(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    order_col: Column,
    payload_cols: Sequence[str],
) -> DataFrame:
    """Per group, return the payload of the row minimizing ``order_col``.

    ``order_col`` may be a struct column for composite ordering; make it
    include a unique tiebreak for determinism. Output: group cols +
    payload cols (flattened).
    """
    picked = F.min_by(F.struct(*[F.col(c) for c in payload_cols]), order_col).alias("__row")
    out = df.groupBy(*group_cols).agg(picked)
    return out.select(
        *[c for c in out.columns if c != "__row"],
        *[F.col(f"__row.{c}").alias(c) for c in payload_cols],
    )


def topn_per_group(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    order: Sequence[Column],
    n: int,
) -> DataFrame:
    """ClickHouse ``LIMIT n BY group`` parity: the first ``n`` rows per
    group under ``order``, with their 1-based rank in ``rn``.

    Make ``order`` end in a unique tiebreak or the selection is
    nondeterministic under shuffle.  Physical plan: one shuffle on the
    group keys + a per-partition sort; Spark 3.5+/4.x inserts a
    WindowGroupLimit below the shuffle, so each map task forwards at
    most ``n`` rows per group instead of the whole group — the same
    partial-top-k trick TakeOrderedAndProject uses, which is what
    keeps a hot group with 10^9 rows from ever crossing the wire.
    For n=1 with no rank column, prefer ``top1_per_group`` (hash agg,
    no sort at all).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
    )
