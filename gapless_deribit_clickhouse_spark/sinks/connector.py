"""Serving-layer connectors: exactly-once micro-batch delivery to an
external store.

The reference serves queries from a hosted ClickHouse reached over an
HTTPS client (``/root/reference/src/gapless_deribit_clickhouse/
clickhouse/connection.py:38-58``); its ingestion dedupes replays with
a per-batch token (``api.py`` insert path). Spark-side, the same
contract is a ``foreachBatch`` sink behind a small connector
interface:

- ``ServingConnector.write_batch(df, batch_id)`` MUST be idempotent in
  ``batch_id``: Structured Streaming replays a batch after a crash
  between "sink ran" and "checkpoint committed", so a replayed epoch
  has to overwrite/dedupe itself, not double-append.
- ``ensure_table(schema)`` creates the destination from the same
  TableSchema SSoT the parquet layout uses — one schema, two dialects.

Two implementations:

- :class:`ParquetServingConnector` — local/lakehouse serving; batch_id
  partition + dynamic-partition overwrite gives replay idempotency on
  plain parquet (no transaction log needed). Fully exercised in tests.
- :class:`ClickHouseHTTPConnector` — the wire-level ClickHouse shape:
  ReplacingMergeTree DDL generated from TableSchema, JSONEachRow
  INSERTs over the public HTTP interface, ``insert_deduplicate`` for
  block-level replay dedup. Statement/serialization logic is pure and
  unit-tested offline; the transport is injectable, so the sandbox
  (no ClickHouse server) tests the full write path against a
  recording transport and a real deployment just uses the default
  urllib transport.

Scale notes: ``write_batch`` posts per PARTITION from executors (the
driver never materializes the batch); one POST per partition keeps
insert block sizes aligned with partition sizing, which is exactly the
knob ClickHouse's dedup window operates on.
"""

from __future__ import annotations

import json
import os
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gapless_deribit_clickhouse_spark.schema.loader import TableSchema


class ServingConnector:
    """Interface contract (duck-typed; subclass or just match it)."""

    def ensure_table(self, schema: TableSchema) -> None:
        raise NotImplementedError

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Deliver one micro-batch. MUST be idempotent in batch_id."""
        raise NotImplementedError


class ParquetServingConnector(ServingConnector):
    """Lakehouse serving target: each micro-batch lands in its own
    ``batch_id=N`` partition with dynamic partition overwrite, so a
    replayed epoch overwrites itself (the Delta txnAppId/txnVersion
    pattern on plain parquet)."""

    def __init__(self, output_path: str):
        self.output_path = output_path

    def ensure_table(self, schema: TableSchema) -> None:  # directory store
        os.makedirs(self.output_path, exist_ok=True)

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.output_path)
        )


_CH_TYPES = {
    "string": "String",
    "double": "Float64",
    "float": "Float32",
    "int": "Int32",
    "bigint": "Int64",
    "boolean": "UInt8",
    "timestamp": "DateTime64(6, 'UTC')",
    "date": "Date",
    "binary": "String",
}


@dataclass
class ClickHouseConnectorConfig:
    """Connection + delivery settings. The password comes from the
    environment (never a literal in code/config files), matching the
    reference's env-based credential handling."""

    url: str = "http://localhost:8123"
    database: str = "default"
    password_env: str = "CLICKHOUSE_PASSWORD"
    user: str = "default"
    # insert_deduplicate: ClickHouse drops an insert whose block
    # checksum was already seen in the dedup window — combined with
    # deterministic per-(batch, partition) blocks this makes replayed
    # epochs no-ops server-side.
    settings: dict = field(
        default_factory=lambda: {"insert_deduplicate": 1, "async_insert": 0}
    )

    def password(self) -> str:
        return os.environ.get(self.password_env, "")


def _default_transport(url: str, body: bytes, headers: dict) -> int:
    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    with urllib.request.urlopen(req, timeout=30) as resp:
        return resp.status


class ClickHouseHTTPConnector(ServingConnector):
    """ClickHouse over the public HTTP interface.

    Pure parts (offline-testable): :meth:`ddl_statement` renders
    ReplacingMergeTree DDL from the TableSchema SSoT (dedup_key ->
    ORDER BY, dedup_version -> engine version column, partition_by ->
    PARTITION BY — the same mapping the reference declares in
    ``schema/clickhouse/options_trades.yaml``), :meth:`insert_url`
    builds the INSERT ... FORMAT JSONEachRow endpoint, and
    :func:`rows_to_jsoneachrow` serializes Spark rows.

    ``transport(url, body, headers) -> status`` is injectable: tests
    use a recorder, production uses urllib. The transport must be
    picklable — it ships to executors inside ``foreachPartition``.
    """

    def __init__(
        self,
        config: ClickHouseConnectorConfig | None = None,
        transport: Callable[[str, bytes, dict], int] | None = None,
    ):
        self.config = config or ClickHouseConnectorConfig()
        self.transport = transport or _default_transport
        self._table: TableSchema | None = None

    # -- pure statement builders -------------------------------------
    def ddl_statement(self, schema: TableSchema) -> str:
        # ORDER BY / PARTITION BY / ReplacingMergeTree-version columns
        # cannot be Nullable in ClickHouse; everything else
        # nullable-but-not-required wraps, so a JSON null stays NULL
        # instead of silently becoming the type default
        order = schema.dedup_key or schema.column_names[:1]
        key_cols = (
            set(schema.dedup_key)
            | set(schema.partition_by)
            | set(schema.dedup_version[:1])
            | set(order)
        )
        col_lines = []
        for c in schema.columns:
            ch_type = _CH_TYPES[c.spark_type]
            if c.nullable and c.name not in schema.required and c.name not in key_cols:
                ch_type = f"Nullable({ch_type})"
            col_lines.append(f"  {c.name} {ch_type}")
        for p in schema.partition_by:
            if p not in schema.column_names:
                # derived partition column (e.g. trade_month) must be
                # declared or the PARTITION BY clause is rejected
                col_lines.append(f"  {p} String")
        # ReplacingMergeTree takes at most ONE version column (a second
        # argument means is_deleted and must be UInt8) — ties beyond it
        # are the deterministic-winner concern of the Spark dedup path,
        # not the engine's
        version = f"({schema.dedup_version[0]})" if schema.dedup_version else ""
        lines = [
            f"CREATE TABLE IF NOT EXISTS {self.config.database}.{schema.table} (",
            ",\n".join(col_lines),
            f") ENGINE = ReplacingMergeTree{version}",
        ]
        if schema.partition_by:
            lines.append(f"PARTITION BY ({', '.join(schema.partition_by)})")
        lines.append(f"ORDER BY ({', '.join(order)})")
        return "\n".join(lines)

    def insert_url(self, table: str) -> str:
        params = {
            "query": f"INSERT INTO {self.config.database}.{table} FORMAT JSONEachRow",
            "user": self.config.user,
            **{str(k): str(v) for k, v in self.config.settings.items()},
        }
        return f"{self.config.url}/?{urllib.parse.urlencode(params)}"

    # -- delivery ----------------------------------------------------
    def ensure_table(self, schema: TableSchema) -> None:
        self._table = schema
        url = f"{self.config.url}/?" + urllib.parse.urlencode(
            {"user": self.config.user}
        )
        self.transport(
            url, self.ddl_statement(schema).encode(), self._headers()
        )

    def _headers(self) -> dict:
        h = {"Content-Type": "application/x-ndjson"}
        pw = self.config.password()
        if pw:
            h["X-ClickHouse-Key"] = pw
        return h

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._table is None:
            raise RuntimeError("call ensure_table(schema) before write_batch")
        from gapless_deribit_clickhouse_spark.schema.ddl import (
            with_partition_columns,
        )

        # derive declared partition columns (e.g. trade_month) exactly
        # as the parquet write path does, so rows land in the partition
        # the DDL declares instead of falling back to column defaults
        batch_df = with_partition_columns(batch_df, self._table)
        missing = [p for p in self._table.partition_by if p not in batch_df.columns]
        if missing:
            # fail LOUDLY: an insert without the partition column would
            # silently default it ('' partition) and break pruning
            raise ValueError(
                f"batch is missing partition column(s) {missing} and their "
                "derivation sources; project them before write_batch"
            )
        url = self.insert_url(self._table.table)
        transport, headers = self.transport, self._headers()
        cols = [c for c in batch_df.columns]

        def post_partition(rows: Iterable) -> None:
            body = rows_to_jsoneachrow(rows, cols)
            if body:
                transport(url, body, headers)

        # executor-side posts: the batch never funnels through the
        # driver; deterministic partition contents (upstream dedup +
        # repartition by key) make replayed blocks byte-identical so
        # insert_deduplicate drops them
        batch_df.foreachPartition(post_partition)


def rows_to_jsoneachrow(rows: Iterable, cols: list[str]) -> bytes:
    """Serialize Spark Rows to ClickHouse JSONEachRow lines. Timestamps
    render as ISO-8601 microseconds (DateTime64(6) best_effort parse),
    dates as YYYY-MM-DD (``date.isoformat`` takes no ``sep`` — passing
    one raises TypeError); bytes as latin-1-safe str."""
    import datetime as _dt

    out = []
    for r in rows:
        d = {}
        for c in cols:
            v = r[c]
            if isinstance(v, _dt.datetime):
                v = v.isoformat(sep=" ")
            elif isinstance(v, _dt.date):
                v = v.isoformat()
            elif isinstance(v, (bytes, bytearray)):
                v = bytes(v).decode("latin-1")
            d[c] = v
        out.append(json.dumps(d, ensure_ascii=True))
    return ("\n".join(out) + "\n").encode() if out else b""


def write_stream_to_connector(
    stream: DataFrame,
    connector: ServingConnector,
    checkpoint_path: str,
) -> StreamingQuery:
    """Structured Streaming -> serving layer, run once over the
    available input: ``foreachBatch`` hands each epoch to the
    connector; the connector's batch_id idempotency + the checkpoint's
    epoch tracking give end-to-end exactly-once."""
    return (
        stream.writeStream.foreachBatch(connector.write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
