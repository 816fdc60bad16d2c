"""Streaming materialized view: AggregatingMergeTree state maintenance
as a Structured Streaming sink.

ClickHouse's serving pattern for the reference's rollups is a
materialized view inserting PARTIAL aggregate states into an
AggregatingMergeTree table (reference: schema DDL engine choices;
batch algebra in ``operators/merge_rollup.py``). This module runs
that lifecycle continuously: each micro-batch is partial-rolled-up
(one aggregation over the BATCH only — the shuffle never touches
history), merged with the previous state, and written as a new state
VERSION under ``state_path/batch_id=N``.

Versioned state is what makes the loop exactly-once without a
transaction log: a replayed epoch N re-reads version N-1 (still
present) and overwrites version N with identical content — the
Delta-style txn idempotence, on plain parquet, for aggregate state
rather than appended rows. Readers serve ``read_rollup_state`` (the
newest version) through ``finalize_rollup``; old versions are
retention-pruned like any parts table, and state size is keys, never
history, so versions are cheap.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE
from gapless_deribit_clickhouse_spark.operators.merge_rollup import (
    finalize_rollup,
    merge_rollup,
    partial_rollup,
)
from gapless_deribit_clickhouse_spark.sinks.connector import ParquetServingConnector


def _is_missing_path(exc: Exception) -> bool:
    """True only for the path-does-not-exist AnalysisException."""
    cond = exc.getCondition() or ""
    return cond == "PATH_NOT_FOUND" or "Path does not exist" in str(exc)


def _latest_version_before(spark, state_path: str, batch_id: int):
    """State rows of the newest version strictly older than
    ``batch_id`` (strict: a replayed epoch must not read its own
    half-written output), or None when no such version exists. The
    1-row max() collect is metadata-scale."""
    from pyspark.errors import AnalysisException

    try:
        allv = spark.read.parquet(state_path)
    except AnalysisException as exc:
        # ONLY the missing-state-directory case means "first batch"
        # (ADVICE r6: a bare except treated transient read failures /
        # corrupt state as first-batch, so the sink would write a new
        # version built from the current batch alone and readers would
        # silently serve truncated aggregate history). Any other error
        # fails the micro-batch so the engine retries it.
        if not _is_missing_path(exc):
            raise
        return None
    prev = allv.filter(F.col("batch_id") < batch_id)
    row = prev.agg(F.max("batch_id").alias("m")).collect()[0]
    if row["m"] is None:
        return None
    return prev.filter(F.col("batch_id") == row["m"]).drop("batch_id")


def rollup_state_sink(
    keys: Sequence[str], value_col: str, state_path: str
):
    """Build the foreachBatch sink closure (exposed for direct replay
    testing). The merged state is materialized with an EAGER
    localCheckpoint before writing: its plan reads the state table the
    write is about to add a partition to. Each version is written
    through ``ParquetServingConnector``, the package's one
    ``batch_id``-idempotent write."""
    target = ParquetServingConnector(state_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        part = partial_rollup(batch_df, keys, value_col)
        prev = _latest_version_before(spark, state_path, batch_id)
        states = [part] if prev is None else [prev, part]
        merged = merge_rollup(states, keys).localCheckpoint(eager=True, storageLevel=BARRIER_STORAGE)
        target.write_batch(merged, batch_id)

    return sink


def streaming_mergeable_rollup(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    state_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the materialized-view maintenance query over the
    available input."""
    return (
        stream.writeStream.foreachBatch(rollup_state_sink(keys, value_col, state_path))
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup_state(spark, state_path: str, keys: Sequence[str]) -> DataFrame:
    """Finalized metrics from the newest state version — the serving
    read. Cost is the state table, never the event history."""
    allv = spark.read.parquet(state_path)
    row = allv.agg(F.max("batch_id").alias("m")).collect()[0]
    state = allv.filter(F.col("batch_id") == row["m"]).drop("batch_id")
    return finalize_rollup(state, keys)
