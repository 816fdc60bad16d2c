"""Structured Streaming ingestion: the streaming-native story for the
reference's emulated-streaming semantics (SURVEY §2.9).

| Reference behavior                          | Here                         |
|---------------------------------------------|------------------------------|
| checkpoint file, resume same job            | ``checkpointLocation``       |
| dedup token per insert batch                | idempotent ``foreachBatch``  |
| inter-page dup detection + MergeTree dedup  | watermark + ``dropDuplicatesWithinWatermark`` (keeps the first-arriving version, not the latest) |
| 15-min tumbling truncation                  | ``F.window(ts, '15 minutes')``|

The file source (parquet page-drops) stands in for the REST feed —
swap ``readStream.parquet`` for a Kafka source in production; nothing
downstream changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from gapless_deribit_clickhouse_spark.sinks.connector import (
    ParquetServingConnector,
    write_stream_to_connector,
)


def read_trade_stream(
    spark: SparkSession, input_path: str, schema: T.StructType
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )


def dedup_stream(
    stream: DataFrame,
    ts_col: str = "timestamp",
    id_col: str = "trade_id",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Late/duplicate handling: events later than the watermark are
    dropped; duplicates of an id within the watermark window are
    dropped exactly-once (state is bounded by the delay).

    The survivor is the FIRST-ARRIVING version of an id: a later
    re-delivery with a revised row is dropped. FINAL reads
    (``dedup_latest``) and ``compact_table`` keep the LATEST version,
    the greatest (``timestamp``, ``trade_id``), so a stream's output
    can differ from a compacted table's until it is compacted too."""
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        [id_col]
    )


def streaming_ohlc(
    stream: DataFrame,
    ts_col: str = "timestamp",
    value_col: str = "iv",
    amount_col: str = "amount",
    keys: tuple[str, ...] = (),
    window: str = "15 minutes",
    watermark_delay: str | None = "10 minutes",
) -> DataFrame:
    """Streaming 15-min bars: watermarked tumbling-window aggregation
    (append mode emits a bar once the watermark passes its end).

    Pass ``watermark_delay=None`` when the input is already
    watermarked (e.g. the output of :func:`dedup_stream`) — Spark
    forbids redefining a watermark between chained stateful
    operators, so the upstream's delay carries through.
    """
    v = F.col(value_col)
    if watermark_delay is not None:
        stream = stream.withWatermark(ts_col, watermark_delay)
    return (
        stream.groupBy(F.window(F.col(ts_col), window).alias("w"), *keys)
        .agg(
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.min_by(v, F.col(ts_col)).alias("open"),
            F.max_by(v, F.col(ts_col)).alias("close"),
            F.sum(amount_col).alias("volume"),
            F.count(v).alias("n_obs"),
        )
        .select(F.col("w.start").alias("bucket_ts"), *keys, "open", "high", "low", "close", "volume", "n_obs")
    )


def streaming_gap_monitor(
    stream: DataFrame,
    key_col: str = "underlying",
    ts_col: str = "timestamp",
    threshold_hours: float = 1.0,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Continuous gap detection: the streaming-native form of the
    reference's post-hoc ``lead()`` gap report (data_quality.py:48-66,
    SURVEY §2.9 'gap monitoring').

    A custom stateful operator (``applyInPandasWithState``): per key,
    the state carries the last event time seen across micro-batches;
    each batch emits one row per consecutive-event gap exceeding the
    threshold, including the batch-boundary gap against the stored
    state. State is one timestamp per key — O(cardinality(key)), not
    O(rows) — so it holds at any scale, and the watermark bounds how
    long a silent key keeps state alive.
    """
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("gap_start", T.TimestampType()),
            T.StructField("gap_end", T.TimestampType()),
            T.StructField("gap_hours", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_ts_us", T.LongType())])
    threshold_us = int(threshold_hours * 3600 * 1_000_000)

    def detect(key, pdf_iter, state):
        last_us = state.get[0] if state.exists else None
        ts_us = pd.concat(
            [pdf[ts_col] for pdf in pdf_iter], ignore_index=True
        ).astype("datetime64[us]").astype("int64").sort_values()
        if ts_us.empty:
            return
        starts, ends = [], []
        prev = last_us
        for cur in ts_us:
            if prev is not None and cur - prev > threshold_us:
                starts.append(prev)
                ends.append(cur)
            prev = cur
        # never move the high-water mark backwards (a batch of only
        # late events must not reopen already-checked gaps)
        new_last = int(ts_us.iloc[-1])
        state.update((new_last if last_us is None else max(new_last, last_us),))
        if starts:
            s = pd.Series(starts, dtype="int64").astype("datetime64[us]")
            e = pd.Series(ends, dtype="int64").astype("datetime64[us]")
            yield pd.DataFrame(
                {
                    key_col: key[0],
                    "gap_start": s,
                    "gap_end": e,
                    "gap_hours": (
                        pd.Series(ends, dtype="float64")
                        - pd.Series(starts, dtype="float64")
                    )
                    / 3.6e9,
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            detect,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_ewma(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    decay: float = 0.9,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming RiskMetrics EWMA — the live sibling of the batch
    :func:`features.timeseries.ewma_by_key` fold, as a custom stateful
    operator (``applyInPandasWithState``): per key, the state carries
    ``(ewma, n, last_ts_us)`` across micro-batches; each batch folds
    its rows in ``(ts)`` order on top of the stored accumulator and
    emits ONE updated row per key.

    Semantics match the batch fold exactly: the first observation ever
    seen seeds the accumulator, then ``s = s * decay + x * (1 -
    decay)`` left-to-right — so a streaming run over N batches equals
    one batch run over the concatenation (pinned in pytest).

    State is three scalars per key — O(cardinality(key)), not O(rows).
    The watermark drops late rows before they reach the fold: an
    out-of-order observation older than the stored high-water mark
    would silently reorder the sequential recurrence, so rows at or
    behind ``last_ts_us`` are skipped and counted in ``n_late`` for
    the batch (the streaming analogue of the batch tier's explicit
    ordering columns).
    """
    import pandas as pd

    # key passes through verbatim, so its output type is the INPUT
    # type (ADVICE r6: hardcoding LongType broke string/symbol keys
    # while the batch sibling ewma_by_key is type-generic)
    out_schema = T.StructType(
        [
            T.StructField(key_col, stream.schema[key_col].dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_late", T.LongType()),
            T.StructField("ewma_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ewma", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("last_ts_us", T.LongType()),
        ]
    )
    alpha = 1.0 - decay

    def fold(key, pdf_iter, state):
        ewma, n, last_us = state.get if state.exists else (None, 0, None)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        ts_us = (
            pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        )
        vals = pdf[value_col].astype("float64").to_numpy()
        n_late = 0
        for t_us, x in zip(ts_us, vals):
            if last_us is not None and t_us <= last_us:
                n_late += 1
                continue
            ewma = x if ewma is None else ewma * decay + x * alpha
            n += 1
            last_us = int(t_us)
        state.update((ewma, n, last_us if last_us is not None else -1))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "n_late": [n_late],
                "ewma_value": [ewma],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def write_stream_idempotent(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Exactly-once sink: a ``ParquetServingConnector`` writes each
    micro-batch into its own ``batch_id`` partition with dynamic
    partition overwrite — a replayed epoch overwrites itself instead of
    appending twice (the Delta txnAppId/txnVersion pattern on plain
    parquet)."""
    return write_stream_to_connector(
        stream, ParquetServingConnector(output_path), checkpoint_path, trigger_once
    )
