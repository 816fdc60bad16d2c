from gapless_deribit_clickhouse_spark.streaming.ingest import (
    dedup_stream,
    streaming_ohlc,
    write_stream_idempotent,
)
from gapless_deribit_clickhouse_spark.streaming.joins import (
    stream_stream_enrich,
)
from gapless_deribit_clickhouse_spark.streaming.materialized import (
    read_rollup_state,
    streaming_mergeable_rollup,
)

__all__ = [
    "dedup_stream",
    "read_rollup_state",
    "stream_stream_enrich",
    "streaming_mergeable_rollup",
    "streaming_ohlc",
    "write_stream_idempotent",
]
