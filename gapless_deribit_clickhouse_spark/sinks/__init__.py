"""Serving-layer sinks: the connector seam between the engine and an
external store (BASELINE north star: "Structured Streaming +
ClickHouse connector")."""

from gapless_deribit_clickhouse_spark.sinks.connector import (
    ClickHouseConnectorConfig,
    ClickHouseHTTPConnector,
    ParquetServingConnector,
    ServingConnector,
    write_stream_to_connector,
)

__all__ = [
    "ClickHouseConnectorConfig",
    "ClickHouseHTTPConnector",
    "ParquetServingConnector",
    "ServingConnector",
    "write_stream_to_connector",
]
