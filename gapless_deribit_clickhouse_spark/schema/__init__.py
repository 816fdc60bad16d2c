"""Schema SSoT layer: YAML -> StructType / DDL / drift checks."""

from gapless_deribit_clickhouse_spark.schema.ddl import (
    create_table_ddl,
    init_table,
    with_partition_columns,
    write_table,
)
from gapless_deribit_clickhouse_spark.schema.drift import (
    Drift,
    DriftKind,
    diff_schemas,
    validate_table,
)
from gapless_deribit_clickhouse_spark.schema.loader import (
    SCHEMA_DIR,
    ColumnSpec,
    TableSchema,
    load_schema,
)

__all__ = [
    "SCHEMA_DIR",
    "ColumnSpec",
    "TableSchema",
    "load_schema",
    "create_table_ddl",
    "init_table",
    "with_partition_columns",
    "write_table",
    "Drift",
    "DriftKind",
    "diff_schemas",
    "validate_table",
]
