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


def dedup_stream(stream: DataFrame, watermark_delay: str = "10 minutes") -> DataFrame:
    """Late/duplicate handling on ``timestamp``: events later than the
    watermark are dropped; duplicates of a ``trade_id`` within the
    watermark window are dropped exactly-once (state is bounded by the
    delay).

    The survivor is the FIRST-ARRIVING version of an id: a later
    re-delivery with a revised row is dropped. FINAL reads
    (``dedup_latest``) and ``compact_table`` keep the LATEST version,
    the greatest (``timestamp``, ``trade_id``), so a stream's output
    can differ from a compacted table's until it is compacted too."""
    return stream.withWatermark("timestamp", watermark_delay).dropDuplicatesWithinWatermark(
        ["trade_id"]
    )


def streaming_ohlc(
    stream: DataFrame,
    window: str = "15 minutes",
    watermark_delay: str | None = "10 minutes",
) -> DataFrame:
    """Streaming 15-min ``iv`` bars with ``amount`` volume over
    ``timestamp``: watermarked tumbling-window aggregation (append mode
    emits a bar once the watermark passes its end).

    Pass ``watermark_delay=None`` when the input is already
    watermarked (e.g. the output of :func:`dedup_stream`) — Spark
    forbids redefining a watermark between chained stateful
    operators, so the upstream's delay carries through.
    """
    v, ts = F.col("iv"), F.col("timestamp")
    if watermark_delay is not None:
        stream = stream.withWatermark("timestamp", watermark_delay)
    return (
        stream.groupBy(F.window(ts, window).alias("w"))
        .agg(
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.min_by(v, ts).alias("open"),
            F.max_by(v, ts).alias("close"),
            F.sum("amount").alias("volume"),
            F.count(v).alias("n_obs"),
        )
        .select(F.col("w.start").alias("bucket_ts"), "open", "high", "low", "close", "volume", "n_obs")
    )


def streaming_gap_monitor(stream: DataFrame) -> DataFrame:
    """Continuous gap detection: the streaming-native form of the
    reference's post-hoc ``lead()`` gap report (data_quality.py:48-66,
    SURVEY §2.9 'gap monitoring'). Per ``underlying``, every gap of
    more than one hour between consecutive ``timestamp`` values, under
    a 10-minute watermark.

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
            T.StructField("underlying", T.StringType()),
            T.StructField("gap_start", T.TimestampType()),
            T.StructField("gap_end", T.TimestampType()),
            T.StructField("gap_hours", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_ts_us", T.LongType())])
    threshold_us = 3600 * 1_000_000

    def detect(key, pdf_iter, state):
        last_us = state.get[0] if state.exists else None
        ts_us = pd.concat(
            [pdf["timestamp"] for pdf in pdf_iter], ignore_index=True
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
                    "underlying": key[0],
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
        stream.withWatermark("timestamp", "10 minutes")
        .groupBy("underlying")
        .applyInPandasWithState(
            detect,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_ewma(stream: DataFrame) -> DataFrame:
    """Streaming RiskMetrics EWMA — the live sibling of the batch
    :func:`features.timeseries.ewma_by_key` fold, as a custom stateful
    operator (``applyInPandasWithState``): per ``user_id``, the state
    carries ``(ewma, n, last_ts_us)`` across micro-batches; each batch
    folds its ``value`` rows in ``ts`` order on top of the stored
    accumulator and emits ONE updated row per key.

    Semantics match the batch fold exactly: the first observation ever
    seen seeds the accumulator, then ``s = s * 0.9 + x * 0.1``
    left-to-right — so a streaming run over N batches equals
    one batch run over the concatenation (pinned in pytest).

    State is three scalars per key — O(cardinality(key)), not O(rows).
    A 10-minute watermark drops late rows before they reach the fold: an
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
            T.StructField("user_id", stream.schema["user_id"].dataType),
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
    decay = 0.9
    alpha = 1.0 - decay

    def fold(key, pdf_iter, state):
        ewma, n, last_us = state.get if state.exists else (None, 0, None)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values("ts", kind="mergesort")
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        vals = pdf["value"].astype("float64").to_numpy()
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
                "user_id": [key[0]],
                "n_events": [n],
                "n_late": [n_late],
                "ewma_value": [ewma],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def write_stream_idempotent(
    stream: DataFrame, output_path: str, checkpoint_path: str
) -> StreamingQuery:
    """Exactly-once sink, run once over the available input: a
    ``ParquetServingConnector`` writes each micro-batch into its own
    ``batch_id`` partition with dynamic partition overwrite — a
    replayed epoch overwrites itself instead of appending twice (the
    Delta txnAppId/txnVersion pattern on plain parquet)."""
    return write_stream_to_connector(stream, ParquetServingConnector(output_path), checkpoint_path)
