"""YAML schema SSoT -> typed TableSchema -> Spark StructType.

Parity with the reference's schema layer
(``/root/reference/src/gapless_deribit_clickhouse/schema/loader.py:63-206``):
the same JSON-Schema-in-YAML single source of truth, but the engine
extension block is ``x-spark`` instead of ``x-clickhouse`` — it emits a
``StructType`` plus physical-layout properties (partition columns,
within-partition sort, dedup key/version, and the columns every version
of a dedup key shares) that the DDL generator and the dedup view
consume.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import yaml
from pyspark.sql import types as T

from gapless_deribit_clickhouse_spark.exceptions import SchemaError

SCHEMA_DIR = Path(__file__).resolve().parent

_SPARK_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}


@dataclass(frozen=True)
class ColumnSpec:
    """One column of the SSoT (reference ColumnConfig, loader.py:63-101)."""

    name: str
    spark_type: str
    nullable: bool
    description: str = ""
    enum: tuple[str, ...] | None = None
    minimum: float | None = None
    derived: bool = False

    @property
    def data_type(self) -> T.DataType:
        try:
            return _SPARK_TYPES[self.spark_type]
        except KeyError:
            raise SchemaError(
                f"column {self.name!r}: unknown x-spark type {self.spark_type!r}"
            ) from None

    def to_field(self) -> T.StructField:
        return T.StructField(self.name, self.data_type, nullable=self.nullable)


@dataclass(frozen=True)
class TableSchema:
    """Parsed SSoT for one table (reference Schema, loader.py:104-154)."""

    table: str
    description: str
    columns: tuple[ColumnSpec, ...]
    required: tuple[str, ...]
    format: str = "parquet"
    partition_by: tuple[str, ...] = ()
    sort_within_partitions: tuple[str, ...] = ()
    dedup_key: tuple[str, ...] = ()
    dedup_version: tuple[str, ...] = ()
    dedup_invariant: tuple[str, ...] = ()
    properties: dict = field(default_factory=dict)

    def column(self, name: str) -> ColumnSpec:
        for c in self.columns:
            if c.name == name:
                return c
        raise SchemaError(f"table {self.table!r} has no column {name!r}")

    @property
    def column_names(self) -> tuple[str, ...]:
        return tuple(c.name for c in self.columns)

    def to_struct_type(self) -> T.StructType:
        return T.StructType([c.to_field() for c in self.columns])


def _parse_column(name: str, spec: dict, required: set[str]) -> ColumnSpec:
    xs = spec.get("x-spark")
    if not xs or "type" not in xs:
        raise SchemaError(f"column {name!r} missing x-spark.type")
    json_type = spec.get("type")
    json_nullable = isinstance(json_type, list) and "null" in json_type
    nullable = bool(xs.get("nullable", json_nullable or name not in required))
    enum = spec.get("enum")
    return ColumnSpec(
        name=name,
        spark_type=str(xs["type"]),
        nullable=nullable,
        description=str(spec.get("description", "")).strip(),
        enum=tuple(enum) if enum else None,
        minimum=spec.get("minimum"),
        derived=bool(spec.get("x-derived", False)),
    )


def load_schema(source: str | Path) -> TableSchema:
    """Parse one YAML SSoT file (or a bundled name like 'options_trades')."""
    path = Path(source)
    if not path.suffix:
        path = SCHEMA_DIR / f"{source}.yaml"
    try:
        raw = yaml.safe_load(path.read_text())
    except FileNotFoundError:
        raise SchemaError(f"schema file not found: {path}") from None
    except yaml.YAMLError as exc:
        raise SchemaError(f"invalid YAML in {path}: {exc}") from None

    if not isinstance(raw, dict) or raw.get("type") != "object":
        raise SchemaError(f"{path}: expected a JSON-Schema object document")
    xs = raw.get("x-spark") or {}
    props = raw.get("properties") or {}
    if not props:
        raise SchemaError(f"{path}: no properties declared")
    required = tuple(raw.get("required") or ())
    missing = set(required) - set(props)
    if missing:
        raise SchemaError(f"{path}: required columns not declared: {sorted(missing)}")
    invariant = tuple(xs.get("dedup_invariant") or ())
    undeclared = set(invariant) - set(props)
    if undeclared:
        raise SchemaError(f"{path}: dedup_invariant columns not declared: {sorted(undeclared)}")

    columns = tuple(_parse_column(n, s or {}, set(required)) for n, s in props.items())
    return TableSchema(
        table=str(xs.get("table", raw.get("title", path.stem))),
        description=str(raw.get("description", "")).strip(),
        columns=columns,
        required=required,
        format=str(xs.get("format", "parquet")),
        partition_by=tuple(xs.get("partition_by") or ()),
        sort_within_partitions=tuple(xs.get("sort_within_partitions") or ()),
        dedup_key=tuple(xs.get("dedup_key") or ()),
        dedup_version=tuple(xs.get("dedup_version") or ()),
        dedup_invariant=invariant,
        properties={k: v for k, v in xs.items() if k not in {
            "table", "format", "partition_by", "sort_within_partitions",
            "dedup_key", "dedup_version", "dedup_invariant"}},
    )
