"""Domain feature surface (reference features/__init__.py:61-88 parity)."""

from gapless_deribit_clickhouse_spark.features.config import (
    CONSERVATIVE,
    DEFAULT,
    HIGH_FREQUENCY,
    FeatureConfig,
    get_preset,
)
from gapless_deribit_clickhouse_spark.features.contract_selector import (
    atm_filter,
    front_month,
    get_contract_stats,
    liquidity_filter,
    select_contracts,
)
from gapless_deribit_clickhouse_spark.features.dte_buckets import (
    dte_bucket_agg,
    dte_bucket_col,
    dte_distribution,
)
from gapless_deribit_clickhouse_spark.features.egarch import (
    EgarchResult,
    auto_select_egarch,
    egarch_params_by_group,
    fit_egarch,
    forecast_volatility,
    iv_model_spread,
)
from gapless_deribit_clickhouse_spark.features.iv_percentile import iv_percentile, iv_rank
from gapless_deribit_clickhouse_spark.features.moneyness import (
    aggregate_by_moneyness,
    compute_smile_metrics,
    moneyness_bucket_col,
)
from gapless_deribit_clickhouse_spark.features.pcr import pcr_aggregate, pcr_by_tenor
from gapless_deribit_clickhouse_spark.features.resampler import (
    resample_by_dte_bucket,
    resample_iv,
)
from gapless_deribit_clickhouse_spark.features.spot_provider import (
    enrich_with_spot,
    ensure_spot_dictionary,
    spot_coverage,
)
from gapless_deribit_clickhouse_spark.features.term_structure import (
    term_structure,
    term_structure_ratio,
    term_structure_slope,
)

__all__ = [
    "CONSERVATIVE", "DEFAULT", "HIGH_FREQUENCY", "FeatureConfig", "get_preset",
    "atm_filter", "front_month", "get_contract_stats", "liquidity_filter", "select_contracts",
    "dte_bucket_agg", "dte_bucket_col", "dte_distribution",
    "EgarchResult", "auto_select_egarch", "egarch_params_by_group",
    "fit_egarch", "forecast_volatility", "iv_model_spread",
    "iv_percentile", "iv_rank",
    "aggregate_by_moneyness", "compute_smile_metrics", "moneyness_bucket_col",
    "pcr_aggregate", "pcr_by_tenor",
    "resample_by_dte_bucket", "resample_iv",
    "enrich_with_spot", "spot_coverage", "ensure_spot_dictionary",
    "term_structure", "term_structure_ratio", "term_structure_slope",
    "greeks_by_bucket", "portfolio_greeks", "with_greeks",
]

# The Greeks live in functions.blackscholes, which imports
# features.config: re-exporting them lazily keeps that import acyclic,
# so either package can be imported first.
_GREEKS = ("greeks_by_bucket", "portfolio_greeks", "with_greeks")


def __getattr__(name: str):
    if name in _GREEKS:
        from gapless_deribit_clickhouse_spark.functions import blackscholes

        return getattr(blackscholes, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
