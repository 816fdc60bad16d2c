"""Registry oracle for the paper's pipeline and the generic operators.

Each of these ``__spark_entry__`` entries is checked in CI. An entry
with an ``oracle_sql()`` query must equal its DuckDB oracle over the
same testdata (row count, column set and values, after sorting
columns and rows); an empty result on either side fails, since an
empty compare proves nothing. An entry without an oracle must return
at least one row. tests/test_demoted_bindings_oracle.py compares every
registry entry with an oracle at sf0.001 as well; this file adds the
non-empty check, the larger testdata some entries need and the
rows-only check.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from gapless_deribit_clickhouse_spark.core.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"
# term_structure needs both tenor legs inside one hour bucket, which
# sf0.001 never has (0 rows); sf0.01 has ~1.7k
SF_DIR_FOR = {"term_structure": "/root/testdata/sf0.01"}

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()

# the paper's pipeline (features, analytics, Greeks, EGARCH, dedup,
# OHLC, instrument parsing) ...
PAPER_ENTRIES = {
    "moneyness_pivot", "feature_pipeline", "moneyness_long", "pcr_by_tenor",
    "pcr_aggregate", "term_structure", "dte_bucket_agg", "dte_distribution",
    "front_month_select", "contract_chain_select", "enrich_with_spot",
    "quality_metrics", "coverage_by_underlying", "gap_analysis",
    "greeks", "rolling_percentile", "rolling_minmax_rank",
    "resample_by_dte_bucket", "dedup_latest", "ohlc_15m", "instrument_parse",
    "portfolio_greeks", "greeks_by_bucket", "smile_metrics", "spot_coverage",
    "egarch_params", "egarch_inputs", "egarch_forecast_path", "egarch_loglik",
    "egarch_nm_step",
}
# ... and the generic operators, which stay bound while their
# operators stay in the package
OPERATOR_ENTRIES = {
    "scan_topn", "top1_min_value", "limit_by_topn", "sessionize",
    "interval_join_sessions", "overlap_hot_hours", "asof_join_spot",
    "asof_join_forward", "asof_join_nearest", "ohlc_15m_gapless",
    "ohlc_gapless_interp", "window_funnel", "sequence_count", "retention",
    "snapshot_diff", "attribution_first_touch", "attribution_last_touch",
    "mergeable_rollup", "weighted_median", "drawdown_stats",
    "realized_vol_daily", "ewma_by_user", "value_autocorr",
    "collapsing_merge", "scd2_history", "pit_enrich", "event_cooccurrence",
}


@pytest.fixture(scope="module")
def duck():
    cons: dict[str, duckdb.DuckDBPyConnection] = {}

    def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
        if sf_dir not in cons:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            cons[sf_dir] = con
        return cons[sf_dir]

    yield connect
    for con in cons.values():
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


CHECKED = PAPER_ENTRIES | OPERATOR_ENTRIES


def test_registry_binds_the_paper_and_operator_entries():
    assert len(PAPER_ENTRIES) == 30 and len(OPERATOR_ENTRIES) == 27
    assert CHECKED <= set(QUERIES)


def test_every_oracle_names_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(CHECKED & set(ORACLES)))
def test_binding_matches_oracle(spark, duck, name):
    sf_dir = SF_DIR_FOR.get(name, SF_DIR)
    got = _normalize(QUERIES[name](spark, sf_dir).toPandas())
    want = _normalize(duck(sf_dir).execute(ORACLES[name]).df())
    assert len(want) > 0, f"{name}: oracle returned no rows at {sf_dir}"
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    assert list(got.columns) == list(want.columns), name
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            assert np.allclose(
                a.astype(float), b.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True
            ), f"{name}.{c}"
        else:
            assert a.astype(str).equals(b.astype(str)), f"{name}.{c}"


@pytest.mark.parametrize("name", sorted(CHECKED - set(ORACLES)))
def test_rows_only_binding_returns_rows(spark, name):
    assert QUERIES[name](spark, SF_DIR).limit(1).count() == 1, name
