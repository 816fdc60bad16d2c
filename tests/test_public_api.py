"""Public-API contract tests (§2.11 parity).

Mirrors the reference's export-contract tests
(``/root/reference/tests/contracts/test_schema_contracts.py:87-118``):
every advertised name importable from the package root, probe shape,
and the validation reporter's formatted output.
"""

from __future__ import annotations

import gapless_deribit_clickhouse_spark as pkg
from gapless_deribit_clickhouse_spark.schema import load_schema
from gapless_deribit_clickhouse_spark.validation import (
    build_validation_report,
    format_validation_report,
)


def test_all_exports_resolve():
    for name in pkg.__all__:
        assert getattr(pkg, name) is not None, name


def test_all_matches_lazy_map_and_aliases():
    """``__all__`` is built from the eager names, the lazy re-export
    map and the aliases: every lazy name and alias is advertised, and
    every advertised name is either lazy, an alias or defined eagerly
    in the package."""
    eager = {n for n in pkg.__all__ if n in vars(pkg)}
    assert set(pkg.__all__) - eager == set(pkg._HOME) | set(pkg._ALIASES)
    assert not eager & (set(pkg._HOME) | set(pkg._ALIASES))
    assert set(pkg._ALIASES.values()) <= set(pkg._HOME)


def test_reference_name_aliases():
    """A reference user's imports keep working (reference __init__.py:42-65)."""
    assert pkg.calculate_greeks is pkg.with_greeks
    assert pkg.calculate_portfolio_greeks is pkg.portfolio_greeks
    assert pkg.aggregate_greeks_by_bucket is pkg.greeks_by_bucket
    assert pkg.get_quality_metrics is pkg.quality_metrics
    assert pkg.get_gap_analysis is pkg.gap_analysis
    assert pkg.get_coverage_stats is pkg.coverage_by_group
    assert pkg.build_contract_selection_query is pkg.select_contracts
    assert pkg.build_spot_enriched_query is pkg.enrich_with_spot
    assert pkg.build_moneyness_aggregation_query is pkg.aggregate_by_moneyness


def test_probe_shape():
    d = pkg.describe()
    assert d["execution"] == "pyspark"
    caps = pkg.get_capabilities()
    assert "fetch_trades" in caps and "gap_analysis" in caps
    assert "parquet" in pkg.get_data_sources()


def test_feature_surface_exports():
    from gapless_deribit_clickhouse_spark import features

    for name in (
        "resample_iv", "iv_percentile", "iv_rank", "pcr_by_tenor",
        "pcr_aggregate", "term_structure_slope", "term_structure_ratio",
        "dte_bucket_agg", "dte_distribution", "aggregate_by_moneyness",
        "compute_smile_metrics", "select_contracts", "enrich_with_spot",
        "with_greeks", "portfolio_greeks", "fit_egarch",
        "auto_select_egarch", "forecast_volatility", "FeatureConfig",
    ):
        assert hasattr(features, name), name


def test_blackscholes_imports_before_features():
    """``functions.blackscholes`` reads ``features.config``, and
    ``features`` re-exports the Greeks: importing blackscholes first, in
    a fresh interpreter, must not hit a circular import."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import gapless_deribit_clickhouse_spark.functions.blackscholes as bs\n"
        "from gapless_deribit_clickhouse_spark import features\n"
        "assert features.with_greeks is bs.with_greeks\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, cwd=Path(__file__).resolve().parents[1]
    )


def test_format_validation_report_sections():
    text = format_validation_report(
        drifts=[],
        quality_row={
            "total_rows": 1000, "unique_ids": 998, "dedup_rate": 0.998,
            "min_ts": "2024-12-01", "max_ts": "2024-12-02",
            "span_hours": 24.0, "rows_per_hour": 41.6,
            "iv_null_or_zero_rate": 0.01,
        },
        gaps=[{"gap_start": "a", "gap_end": "b", "gap_hours": 3.5}],
    )
    assert "[OK] schema matches SSoT" in text
    assert "dedup rate" in text and "99.8" in text
    assert "iv null/zero rate" in text
    assert "(3.5 h)" in text


def test_build_validation_report_end_to_end(spark, trades_df):
    text = build_validation_report(
        spark, trades_df, layout=load_schema("options_trades"),
        gap_threshold_hours=0.01,
    )
    assert "Validation Report" in text
    assert "rows: 200" in text
    assert "partitioned by: underlying, trade_month" in text
    # an empty table gives null rates, shown as n/a and flagged
    empty = build_validation_report(spark, trades_df.limit(0))
    assert "rows: 0" in empty
    assert "[!!] iv null/zero rate: n/a" in empty
