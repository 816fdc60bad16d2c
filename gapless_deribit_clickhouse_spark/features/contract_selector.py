"""Contract-selection strategies.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
contract_selector.py`` — nested SQL-template CTEs:
  all | front_month (argMin per 15-min) [+ atm filter] [+ liquidity].
Here each strategy is a DataFrame -> DataFrame combinator; composition
is function composition and Catalyst fuses the stack into one plan.

Scale notes:
- front_month: ``min_by(struct(payload), (dte, trade_id))`` hash
  aggregate (the reference's argMin-over-ROW_NUMBER choice,
  contract_selector.py:10-15) — one shuffle, no sort.
- liquidity (J3): the reference inner-joins a daily-volume CTE; we use
  a window sum over (instrument, day), which Spark executes as ONE
  shuffle on the same key the join would need — strictly fewer
  exchanges, no broadcast dependency, skew handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.exceptions import QueryError
from gapless_deribit_clickhouse_spark.features.config import DEFAULT, FeatureConfig
from gapless_deribit_clickhouse_spark.functions.conditional import safe_div
from gapless_deribit_clickhouse_spark.functions.timeutils import dte_days, time_bucket
from gapless_deribit_clickhouse_spark.operators.topk import top1_per_group

STRATEGIES = ("all", "front_month", "front_month_atm", "front_month_atm_liquid")


def front_month(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    """Per (window, underlying) keep the whole row of the trade with
    minimum DTE (reference contract_selector.py:34-62), deterministic
    via id tiebreak."""
    payload = [c for c in df.columns]
    dte = dte_days(F.col("timestamp"), F.col("expiry")).alias("__dte")
    with_bucket = df.withColumn(
        "__w", time_bucket(F.col("timestamp"), config.resample_seconds)
    ).withColumn("__dte", dte)
    out = top1_per_group(
        with_bucket,
        group_cols=["__w", "underlying"],
        order_col=F.struct(F.col("__dte"), F.col("trade_id")),
        payload_cols=[c for c in payload if c != "underlying"],
    )
    return out.drop("__w")


def atm_filter(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    """strike/spot within ±atm_width (reference contract_selector.py:64-72).
    A row with a zero ``index_price`` has no ratio and is dropped."""
    ratio = safe_div(F.col("strike"), F.col("index_price"))
    return df.filter(ratio.between(1 - config.atm_width, 1 + config.atm_width))


def liquidity_filter(df: DataFrame, config: FeatureConfig = DEFAULT) -> DataFrame:
    """Keep rows of (instrument, day) groups whose daily volume >=
    min_volume (reference contract_selector.py:74-93) — window sum
    instead of the reference's self-join."""
    w = Window.partitionBy(F.col("instrument_name"), F.to_date(F.col("timestamp")))
    return (
        df.withColumn("__daily_volume", F.sum("amount").over(w))
        .filter(F.col("__daily_volume") >= config.min_volume)
        .drop("__daily_volume")
    )


def select_contracts(
    df: DataFrame,
    strategy: str = "front_month_atm_liquid",
    config: FeatureConfig = DEFAULT,
) -> DataFrame:
    """Strategy dispatcher (reference contract_selector.py:117-191)."""
    if strategy not in STRATEGIES:
        raise QueryError(f"unknown strategy {strategy!r}; options: {STRATEGIES}")
    out = df
    if strategy != "all":
        out = front_month(out, config=config)
    if strategy in ("front_month_atm", "front_month_atm_liquid"):
        out = atm_filter(out, config=config)
    if strategy == "front_month_atm_liquid":
        out = liquidity_filter(out, config=config)
    return out


def get_contract_stats(df: DataFrame, config: FeatureConfig = DEFAULT) -> dict[str, int]:
    """Row count per selection strategy (reference
    contract_selector.py:263-302, ``get_contract_stats``) — shows the
    funnel effect of each filter stage. Four counts over the same
    (already filtered/pruned) input; each count is a partial-agg +
    single-row exchange, so the dominant cost is the shared scan."""
    return {
        strategy: select_contracts(df, strategy=strategy, config=config).count()
        for strategy in STRATEGIES
    }
