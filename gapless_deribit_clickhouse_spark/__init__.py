"""gapless_deribit_clickhouse_spark — a PySpark-native analytics engine.

A brand-new engine with the query & data-processing capabilities of the
reference project terrylica/gapless-deribit-clickhouse (a ClickHouse +
pandas vertical analytics pipeline over Deribit options trades), re-
expressed Spark-first: every operator is a DataFrame -> DataFrame
combinator whose logical plan Catalyst optimizes (predicate pushdown,
column pruning, broadcast joins, whole-stage codegen), instead of the
reference's SQL-string templates + client-side pandas split.

Layout
------
core/        SparkSession factory + table registration
schema/      declarative schema SSoT -> StructType / DDL / contracts
functions/   column-level helpers (conditional aggs, time buckets,
             instrument parsing, Black-Scholes)
operators/   generic engine operators (dedup, top-k, OHLC resample,
             rolling windows, broadcast enrichment, as-of join)
features/    the reference's domain feature surface (contract
             selection, spot enrichment, moneyness, PCR, term
             structure, DTE buckets, IV percentile, Greeks, EGARCH)
sources/     batch ingestion (paginated collector emulation,
             continuity validation, idempotent sinks, checkpoints)
streaming/   Structured Streaming ingestion (watermark + dedup)
sinks/       serving-layer connectors
validation/  data-quality metrics, gap reports, reporter
bindings/    operators bound to the testdata tables, each with its
             DuckDB oracle (the ``__spark_entry__`` registry)
"""

from gapless_deribit_clickhouse_spark.exceptions import (
    GaplessSparkError,
    ConfigurationError,
    QueryError,
    SchemaError,
    InstrumentParseError,
    InsufficientDataError,
)

__version__ = "0.1.0"


# Lazy re-exports: public name -> submodule that defines it.
_HOME = {
    "fetch_trades": "api", "describe": "api",
    "collect_trades": "sources", "CheckpointStore": "sources",
    "validate_page_continuity": "sources",
    "parse_instrument": "functions.instrument",
    "is_valid_instrument": "functions.instrument",
    "quality_metrics": "validation", "coverage_by_group": "validation",
    "gap_analysis": "validation",
    "format_validation_report": "validation",
    "build_validation_report": "validation",
    "print_validation_summary": "validation",
    "load_schema": "schema", "validate_table": "schema",
    "get_spark": "core.session",
    "load_table": "core.tables",
    "load_tables": "core.tables",
    "register_views": "core.tables",
    # feature surface (reference features/__init__.py:61-88)
    "FeatureConfig": "features", "get_preset": "features",
    "DEFAULT": "features", "CONSERVATIVE": "features",
    "HIGH_FREQUENCY": "features",
    "resample_iv": "features", "resample_by_dte_bucket": "features",
    "iv_percentile": "features", "iv_rank": "features",
    "term_structure": "features", "term_structure_slope": "features",
    "term_structure_ratio": "features",
    "pcr_by_tenor": "features", "pcr_aggregate": "features",
    "dte_bucket_agg": "features", "dte_distribution": "features",
    "fit_egarch": "features", "auto_select_egarch": "features",
    "forecast_volatility": "features", "iv_model_spread": "features",
    "egarch_params_by_group": "features",
    "select_contracts": "features", "get_contract_stats": "features", "front_month": "features",
    "atm_filter": "features", "liquidity_filter": "features",
    "enrich_with_spot": "features", "spot_coverage": "features",
    "ensure_spot_dictionary": "features",
    "aggregate_by_moneyness": "features",
    "compute_smile_metrics": "features",
    "moneyness_bucket_col": "features",
    "with_greeks": "functions.blackscholes",
    "portfolio_greeks": "functions.blackscholes",
    "greeks_by_bucket": "functions.blackscholes",
    "format_instrument_col": "functions.instrument",
    "format_instrument": "functions.instrument",
    "compact_table": "operators.dedup",
    "interval_join": "operators.range_join",
    "sessionize": "operators.sessionize",
    "session_stats": "operators.sessionize",
    "streaming_sessionize": "operators.sessionize",
    "topn_per_group": "operators.topk",
    "weighted_median_per_group": "operators.weighted",
    "partial_rollup": "operators.merge_rollup",
    "merge_rollup": "operators.merge_rollup",
    "finalize_rollup": "operators.merge_rollup",
    "window_funnel": "operators.funnel",
    "sequence_count": "operators.funnel",
    "fill_time_gaps": "operators.gapfill",
    "retention": "operators.funnel",
    "ServingConnector": "sinks.connector",
    "ParquetServingConnector": "sinks.connector",
    "ClickHouseHTTPConnector": "sinks.connector",
    "ClickHouseConnectorConfig": "sinks.connector",
    "write_stream_to_connector": "sinks.connector",
}
# reference-name aliases (reference __init__.py:42-65 /
# features/__init__.py:61-88): a reference user's import keeps working
_ALIASES = {
    "calculate_greeks": "with_greeks",
    "calculate_portfolio_greeks": "portfolio_greeks",
    "aggregate_greeks_by_bucket": "greeks_by_bucket",
    "get_quality_metrics": "quality_metrics",
    "get_gap_analysis": "gap_analysis",
    "get_coverage_stats": "coverage_by_group",
    "validate_schema_version": "validate_table",
    "build_contract_selection_query": "select_contracts",
    "build_spot_enriched_query": "enrich_with_spot",
    "build_moneyness_aggregation_query": "aggregate_by_moneyness",
}


def __getattr__(name: str):
    """Lazy re-exports of the reference's public API (§2.11 parity:
    reference __init__.py:42-65) — deferred so importing the package
    does not import pyspark submodules eagerly."""
    from importlib import import_module

    name = _ALIASES.get(name, name)
    if name in _HOME:
        return getattr(
            import_module(f"gapless_deribit_clickhouse_spark.{_HOME[name]}"), name
        )
    if name == "features":
        return import_module("gapless_deribit_clickhouse_spark.features")
    raise AttributeError(name)


def get_capabilities() -> list[str]:
    """Flat capability list (reference probe.py:47-160)."""
    from gapless_deribit_clickhouse_spark.api import describe

    caps = describe()["capabilities"]
    return sorted(x for group in caps.values() for x in group)


def get_data_sources() -> list[str]:
    from gapless_deribit_clickhouse_spark.api import describe

    return describe()["data_sources"]


__all__ = [
    "GaplessSparkError",
    "ConfigurationError",
    "QueryError",
    "SchemaError",
    "InstrumentParseError",
    "InsufficientDataError",
    "__version__",
    "get_capabilities",
    "get_data_sources",
    *_HOME,
    *_ALIASES,
]
