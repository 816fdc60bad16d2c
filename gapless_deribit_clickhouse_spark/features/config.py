"""Feature configuration.

Semantics carried over from the reference's ``FeatureConfig``
(``/root/reference/src/gapless_deribit_clickhouse/features/config.py:30-135``):
resample frequency, ATM width, liquidity minimum, DTE buckets,
moneyness thresholds, Greeks discounting, and the three presets.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from gapless_deribit_clickhouse_spark.exceptions import ConfigurationError

# (lo, hi) inclusive day ranges — reference features/config.py:75-82
# (weekly, bi-weekly, monthly, bi-monthly, quarterly, LEAPS).
DEFAULT_DTE_BUCKETS: tuple[tuple[int, int], ...] = (
    (0, 7),
    (8, 14),
    (15, 30),
    (31, 60),
    (61, 90),
    (91, 999),
)

# moneyness bucket thresholds — reference features/config.py:85-90
DEFAULT_MONEYNESS_THRESHOLDS: tuple[float, float, float, float] = (0.90, 0.95, 1.05, 1.10)

MONEYNESS_BUCKETS = ("deep_otm_put", "otm_put", "atm", "otm_call", "deep_otm_call")

# 2% — matches the reference's Deribit-internal-model assumption
# (reference features/config.py:63). Module-level so functions/ can
# share the default without importing the dataclass.
DEFAULT_RISK_FREE_RATE: float = 0.02


@dataclass(frozen=True)
class FeatureConfig:
    """Tunable parameters shared by the feature combinators."""

    resample_seconds: int = 900  # 15-min floor (reference resampler.py:14-15)
    atm_width: float = 0.05  # strike/spot within ±5% (config.py:66)
    min_volume: float = 10.0  # daily liquidity floor (config.py:67)
    dte_buckets: tuple[tuple[int, int], ...] = DEFAULT_DTE_BUCKETS
    moneyness_thresholds: tuple[float, float, float, float] = DEFAULT_MONEYNESS_THRESHOLDS
    near_dte_max: int = 30  # term-structure near leg (term_structure.py:71)
    far_dte_min: int = 60  # term-structure far leg (term_structure.py:72)
    exclude_leaps_dte: int = 365  # PCR excludes LEAPS (config.py:96-104)
    iv_lookback_days: int = 90  # rolling percentile window (config.py:70)
    risk_free_rate: float = DEFAULT_RISK_FREE_RATE  # greeks discounting (config.py:63)
    year_seconds: float = 365.25 * 24 * 3600.0  # T in years (greeks.py:40)

    def __post_init__(self) -> None:
        if self.resample_seconds <= 0:
            raise ConfigurationError("resample_seconds must be positive")
        if not 0 < self.atm_width < 1:
            raise ConfigurationError("atm_width must be in (0, 1)")
        t = self.moneyness_thresholds
        if list(t) != sorted(t):
            raise ConfigurationError("moneyness_thresholds must be ascending")


DEFAULT = FeatureConfig()
CONSERVATIVE = FeatureConfig(resample_seconds=3600, atm_width=0.03, min_volume=50.0)
HIGH_FREQUENCY = FeatureConfig(resample_seconds=300, atm_width=0.10, min_volume=1.0)

PRESETS: dict[str, FeatureConfig] = {
    "default": DEFAULT,
    "conservative": CONSERVATIVE,
    "high_frequency": HIGH_FREQUENCY,
}


def get_preset(name: str) -> FeatureConfig:
    try:
        return PRESETS[name]
    except KeyError as exc:
        raise ConfigurationError(f"unknown preset {name!r}; options: {sorted(PRESETS)}") from exc


def bucket_label(lo: int, hi: int) -> str:
    """Column-name-safe DTE bucket label, e.g. ``dte_0_7``."""
    return f"dte_{lo}_{hi}"


def dte_bucket_case_sql(dte_expr: str) -> str:
    """ANSI-SQL CASE labelling ``dte_expr`` with the default bucket
    set. The binding oracles use this so the DuckDB side is generated
    from the SAME bucket list the Spark combinators read — a config
    change cannot silently diverge the two."""
    whens = "\n     ".join(
        f"WHEN {dte_expr} BETWEEN {lo} AND {hi} THEN '{bucket_label(lo, hi)}'"
        for lo, hi in DEFAULT_DTE_BUCKETS
    )
    return f"CASE {whens}\n     ELSE NULL END"
