"""Contract tests for the schema SSoT layer.

Ported test strategy from the reference's architecture-contract suite
(``/root/reference/tests/contracts/test_schema_contracts.py:17-118``):
the YAML parses, required ⊆ declared, required ⇒ NOT NULL, every
column carries an engine type; plus Spark-side contracts — StructType
emission, DDL rendering, writer layout, and drift detection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gapless_deribit_clickhouse_spark.exceptions import SchemaError
from gapless_deribit_clickhouse_spark.schema import (
    DriftKind,
    TableSchema,
    create_table_ddl,
    diff_schemas,
    load_schema,
    with_partition_columns,
)

from conftest import TRADES_SCHEMA, make_trades_pdf


@pytest.fixture(scope="module")
def trades_schema() -> TableSchema:
    return load_schema("options_trades")


def test_ssot_parses_and_covers_reference_columns(trades_schema):
    assert trades_schema.table == "options_trades"
    assert set(trades_schema.column_names) == {
        "trade_id", "instrument_name", "timestamp", "price", "amount",
        "direction", "iv", "index_price", "mark_price",
        "underlying", "expiry", "strike", "option_type",
    }


def test_required_subset_and_not_null(trades_schema):
    names = set(trades_schema.column_names)
    assert set(trades_schema.required) <= names
    for req in trades_schema.required:
        assert not trades_schema.column(req).nullable, req
    for opt in names - set(trades_schema.required):
        assert trades_schema.column(opt).nullable, opt


def test_derived_columns_flagged(trades_schema):
    derived = {c.name for c in trades_schema.columns if c.derived}
    assert derived == {"underlying", "expiry", "strike", "option_type"}


def test_struct_type_matches_test_fixture_schema(trades_schema):
    assert trades_schema.to_struct_type() == TRADES_SCHEMA


def test_physical_layout_declared(trades_schema):
    assert trades_schema.partition_by == ("underlying", "trade_month")
    assert trades_schema.sort_within_partitions == ("expiry", "timestamp")
    assert trades_schema.dedup_key == ("trade_id",)
    assert trades_schema.dedup_invariant == (
        "instrument_name", "underlying", "expiry", "strike", "option_type"
    )


def test_ddl_renders_partitioning(trades_schema):
    ddl = create_table_ddl(trades_schema, location="/tmp/x")
    assert "CREATE TABLE IF NOT EXISTS options_trades" in ddl
    assert "PARTITIONED BY (underlying, trade_month)" in ddl
    assert "timestamp TIMESTAMP NOT NULL" in ddl
    assert "iv DOUBLE" in ddl and "iv DOUBLE NOT NULL" not in ddl
    assert "trade_month STRING NOT NULL" in ddl


def test_partition_column_derivation(spark, trades_df):
    out = with_partition_columns(trades_df, load_schema("options_trades"))
    row = out.select("trade_month").first()
    assert row.trade_month == "202412"

    # the UTC month, also on a session in another zone: 02:30 UTC on
    # 1 December is still November in New York
    early = trades_df.limit(1).withColumn(
        "timestamp", F.lit("2024-12-01 02:30:00+00:00").cast("timestamp")
    )
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        out = with_partition_columns(early, load_schema("options_trades"))
        assert out.select("trade_month").first().trade_month == "202412"
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_drift_detection(spark, trades_schema):
    live_ok = trades_schema.to_struct_type()
    assert diff_schemas(trades_schema, live_ok) == []

    # drop a column, retype another, add an extra
    fields = [f for f in live_ok.fields if f.name != "iv"]
    fields = [
        T.StructField(f.name, T.StringType(), f.nullable) if f.name == "strike" else f
        for f in fields
    ]
    fields.append(T.StructField("rogue", T.IntegerType(), True))
    drifts = diff_schemas(trades_schema, T.StructType(fields))
    kinds = {(d.kind, d.column) for d in drifts}
    assert (DriftKind.MISSING, "iv") in kinds
    assert (DriftKind.TYPE_MISMATCH, "strike") in kinds
    assert (DriftKind.EXTRA, "rogue") in kinds


def test_spot_schema_parses():
    spot = load_schema("spot_ohlcv")
    assert spot.dedup_key == ("symbol", "timeframe", "instrument_type", "timestamp")
    assert spot.properties.get("broadcast") is True


def test_unknown_schema_raises():
    with pytest.raises(SchemaError):
        load_schema("nonexistent_table")


_COLUMN_A = "properties:\n  a:\n    type: string\n    x-spark: {type: string}\n"


@pytest.mark.parametrize(
    "text,match",
    [
        ("type: object\nproperties: [a\n", "invalid YAML"),
        ("type: object\nproperties: {}\n", "no properties"),
        ("type: object\n" + _COLUMN_A + "required: [a, b]\n", "required columns not declared"),
        (
            "type: object\nx-spark: {dedup_invariant: [a, b]}\n" + _COLUMN_A,
            "dedup_invariant columns not declared",
        ),
    ],
    ids=["invalid_yaml", "no_properties", "undeclared_required", "undeclared_dedup_invariant"],
)
def test_malformed_schema_file_raises(tmp_path, text, match):
    path = tmp_path / "broken.yaml"
    path.write_text(text)
    with pytest.raises(SchemaError, match=match):
        load_schema(path)


def test_unknown_spark_type_raises(tmp_path):
    path = tmp_path / "money.yaml"
    path.write_text(
        "type: object\nproperties:\n  a:\n    type: string\n    x-spark: {type: money}\n"
    )
    with pytest.raises(SchemaError, match="unknown x-spark type"):
        load_schema(path).to_struct_type()


def test_writer_layout_roundtrip(spark, tmp_path, trades_schema):
    """write_table partitions by (underlying, trade_month) and the
    read-back survives a drift check (partition cols directory-encoded)."""
    from gapless_deribit_clickhouse_spark.schema import validate_table, write_table

    df = spark.createDataFrame(make_trades_pdf(40), schema=TRADES_SCHEMA)
    path = str(tmp_path / "options_trades")
    write_table(df, trades_schema, path, mode="overwrite")

    back = spark.read.parquet(path)
    assert "trade_month" in back.columns
    drifts = validate_table(spark, trades_schema, df=back)
    assert drifts == []
    assert back.count() == 40
