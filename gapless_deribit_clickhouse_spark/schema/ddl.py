"""DDL generation from the SSoT.

Parity with the reference's ``cmd_init``
(``/root/reference/src/gapless_deribit_clickhouse/schema/cli.py:67-113``),
which renders CREATE DATABASE/TABLE with engine + PARTITION BY + ORDER
BY from the YAML. Here the target dialect is Spark SQL: a parquet (or
any ``USING``-able) table partitioned by the declared columns; the
within-partition sort order is applied by the writer, not the DDL
(parquet has no ORDER BY — row-group min/max stats do the pruning).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.operators.dedup import dedup_latest, mark_clean, partition_leaves
from gapless_deribit_clickhouse_spark.schema.loader import TableSchema

_DDL_TYPES = {
    "string": "STRING",
    "double": "DOUBLE",
    "float": "FLOAT",
    "int": "INT",
    "bigint": "BIGINT",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "binary": "BINARY",
}


def create_table_ddl(schema: TableSchema, location: str | None = None) -> str:
    """Render `CREATE TABLE IF NOT EXISTS ... USING <format> PARTITIONED BY`."""
    cols = []
    for c in schema.columns:
        null_sql = "" if c.nullable else " NOT NULL"
        comment = f" COMMENT '{c.description}'" if c.description else ""
        cols.append(f"  {c.name} {_DDL_TYPES[c.spark_type]}{null_sql}{comment}")
    for p in schema.partition_by:
        if p not in schema.column_names:
            cols.append(f"  {p} STRING NOT NULL COMMENT 'derived partition column'")
    lines = [
        f"CREATE TABLE IF NOT EXISTS {schema.table} (",
        ",\n".join(cols),
        f") USING {schema.format}",
    ]
    if schema.partition_by:
        lines.append(f"PARTITIONED BY ({', '.join(schema.partition_by)})")
    if location:
        lines.append(f"LOCATION '{location}'")
    if schema.description:
        lines.append(f"COMMENT '{schema.description}'")
    return "\n".join(lines)


def init_table(spark: SparkSession, schema: TableSchema, location: str | None = None) -> None:
    spark.sql(create_table_ddl(schema, location))


def with_partition_columns(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Add declared-but-derived partition columns (e.g. trade_month =
    yyyyMM of timestamp — the Spark analogue of the reference's
    ``PARTITION BY toYYYYMM(timestamp)``, options_trades.yaml:31).

    The month is the UTC month: like ``core.tables.load_table``, this
    sets the session time zone to UTC for the rest of the session,
    because ``date_format`` renders in the session's zone and callers
    may hand in a session set to another one."""
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    for p in schema.partition_by:
        if p not in df.columns and p.endswith("_month"):
            src = p[: -len("_month")] if p != "trade_month" else "timestamp"
            # best-effort: a frame without the source column (e.g. a
            # projected subset headed to a connector) passes through
            # unchanged rather than failing analysis
            if src in df.columns:
                df = df.withColumn(p, F.date_format(F.col(src), "yyyyMM"))
    return df


def write_table(df: DataFrame, schema: TableSchema, path: str, mode: str = "append") -> None:
    """Write parquet in the declared physical layout: derived partition
    columns, partitionBy, and within-partition sort for row-group
    pruning (the reference's ORDER BY analogue).

    ``mode="append"`` on a schema with a ``dedup_key`` lands the batch
    already deduplicated (:func:`~gapless_deribit_clickhouse_spark.operators.dedup.dedup_latest`
    on ``dedup_key``/``dedup_version``): a version that loses inside
    the batch also loses in the table, so FINAL reads do not change.
    Every partition leaf the batch created then gets a clean marker
    (``operators.dedup.mark_clean``, one id per call), so a later
    ``compact_table`` over those leaves alone launches no Spark job. A
    leaf the batch appended to is left unmarked, and its old marker no
    longer matches its files: it is dirty until compacted. Any other
    ``mode`` (``"overwrite"``) lands the frame exactly as given, with
    its duplicates and no marker.

    One writer per table: an append must not run while a
    ``compact_table`` of the same table runs. A file that lands in a
    leaf between the compaction's read and its swap is deleted with the
    leaf's old copy.
    """
    out = with_partition_columns(df, schema)
    dedup = mode == "append" and bool(schema.dedup_key)
    if dedup:
        out = dedup_latest(out, schema.dedup_key, schema.dedup_version)
    if schema.sort_within_partitions:
        out = out.sortWithinPartitions(*schema.sort_within_partitions)
    writer = out.write.mode(mode).format(schema.format)
    if schema.partition_by:
        writer = writer.partitionBy(*schema.partition_by)
    if not dedup:
        writer.save(path)
        return
    root, depth = Path(path), len(schema.partition_by)
    existing = set(partition_leaves(root, depth))
    writer.save(path)
    mark_clean(root, [rel for rel in partition_leaves(root, depth) if rel not in existing])
