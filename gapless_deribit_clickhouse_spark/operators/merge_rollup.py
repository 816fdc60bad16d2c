"""AggregatingMergeTree-parity mergeable aggregate states.

The reference's serving layer leans on ClickHouse's incremental
aggregation: inserts land as PARTIAL aggregate states per key and the
table merges them in the background, so a rollup over years of history
never rescans history (reference: schema DDL engine choices,
schema/ddl generation; the ReplacingMergeTree analogue lives in
``operators/dedup.py``).  The Spark-first equivalent is an explicit
algebra over a state schema:

- ``partial_rollup``: one aggregation pass over a batch -> one state
  row per key: (n, sum, min, max, sum_sq).  Every component is
  associative/commutative, so states from different batches merge
  exactly.
- ``merge_rollup``: union any number of state tables and re-reduce —
  sums add, mins min, maxes max.  Cost is proportional to the STATE
  (keys x batches), never to the raw history.
- ``finalize_rollup``: project human metrics (avg, stddev_samp) out of
  a state.  sum_sq keeps variance mergeable (Chan et al.'s pairwise
  form reduces to this for sum-partitioned states).

At 100 TB: the nightly pipeline partial-rollups each new partition
(shuffle is over the batch only), appends the state rows to a bucketed
state table, and compacts with ``merge_rollup`` — the same write
amplification model as the ClickHouse engine it mirrors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partial_rollup(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """One state row per key for this batch (rows with NULL value
    contribute nothing, matching SQL aggregate semantics)."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
        F.sum(v * v).alias("ss"),
    )


def merge_rollup(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Merge partial states from any number of batches into one state
    table.  unionByName + one re-reduce on the keys; associativity of
    every component makes the result independent of batch split."""
    it = iter(states)
    merged = next(it)
    for st in it:
        merged = merged.unionByName(st)
    return merged.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("ss").alias("ss"),
    )


def finalize_rollup(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Project final metrics from a state table: count, sum, min, max,
    avg, sample stddev.  stddev from the mergeable (n, s, ss) triple:
    sqrt((ss - s^2/n) / (n - 1)); NULL when n < 2, like stddev_samp."""
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (ss - (s * s) / n) / (n - 1)
    return state.select(
        *keys,
        n.alias("n_obs"),
        s.alias("sum_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
        (s / n).alias("avg_value"),
        F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))).alias("stddev_value"),
    )
