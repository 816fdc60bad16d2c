"""Plan contracts: every registered query must keep the physical-plan
properties the 100 TB design depends on. This test enforces them, so
a refactor that silently introduces a nested-loop join or an
undeclared Python crossing fails CI.
"""

from __future__ import annotations

import pytest

from gapless_deribit_clickhouse_spark.bindings import ALL_BINDINGS
from gapless_deribit_clickhouse_spark.features import (
    aggregate_by_moneyness,
    dte_bucket_agg,
    enrich_with_spot,
    iv_percentile,
    pcr_by_tenor,
    resample_iv,
    select_contracts,
    term_structure,
    with_greeks,
)
from gapless_deribit_clickhouse_spark.functions.blackscholes import portfolio_greeks
from gapless_deribit_clickhouse_spark.validation import gap_analysis, quality_metrics

SF_DIR = "/root/testdata/sf0.001"

# the only operators allowed off the JVM (Arrow-batched, SURVEY §2.10).
REQUIRED_PYTHON = {
    "egarch_params",
    "egarch_loglik",  # the exact _neg_loglik sequential kernel the
    # optimizer evaluates, one applyInPandas crossing per group —
    # the crossing IS the thing the DuckDB recursive oracle checks
    "egarch_nm_step",  # one Nelder-Mead iteration: 9 _neg_loglik
    # evaluations + the acceptance rule in the same single crossing;
    # the DuckDB twin replays all of it (VERDICT r9 #4)
}

# BroadcastNestedLoopJoin is allowed ONLY where the build side is
# bounded by construction, and each listed entry must plan one:
# - value_histogram: 1-row min/max-bounds scalar broadcast
# - scan_keyset: 1-row pagination-cursor broadcast (LIMIT 1 by
#   construction — the keyset predicate references the cursor's
#   (ts, event_id) on every row, the textbook scalar-broadcast shape)
ALLOWED_NLJ = {
    "value_histogram",
    "scan_keyset",
    "pit_enrich",  # 1-row horizon (max fact ts) scalar broadcast that
    # closes the SCD2 history's open intervals before the bucketed
    # interval join (operators/scd.py point_in_time_join)
    "event_cooccurrence",  # 1-row total-group-count scalar broadcast
    # (the lift denominator; the pair join itself is an equi-join on
    # the group id)
    "overlap_hot_hours",  # 1-row hourly-average scalar broadcast (the
    # hot-hour threshold); the overlap join itself is the bucketed hash
    # equi-join
}


def test_allow_lists_name_registry_entries():
    # a name left behind by a deleted binding would silently exempt any
    # later binding that reuses it
    names = {n for n, _f, _s in ALL_BINDINGS}
    for allowed in (REQUIRED_PYTHON, ALLOWED_NLJ):
        assert allowed <= names, sorted(allowed - names)


def _plan(fn, spark) -> str:
    return fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name,fn", [(n, f) for n, f, _ in ALL_BINDINGS])
def test_no_nested_loop_or_cartesian(spark, name, fn):
    plan = _plan(fn, spark)
    assert ("BroadcastNestedLoopJoin" in plan) == (name in ALLOWED_NLJ), name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize("name,fn", [(n, f) for n, f, _ in ALL_BINDINGS])
def test_python_only_at_declared_edges(spark, name, fn):
    plan = _plan(fn, spark)
    crossings = sum(
        plan.count(op)
        for op in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    )
    assert (crossings >= 1) == (name in REQUIRED_PYTHON), (
        f"{name}: {crossings} Arrow-batched crossings"
    )


# The feature stages perfbench's feature_batch times, built with the
# same builders and arguments over the conftest trades: none of them
# may leave the JVM.
FEATURE_STAGES = {
    "contract_pipeline": lambda df, spot: aggregate_by_moneyness(
        enrich_with_spot(select_contracts(df, "front_month_atm_liquid"), spot)
    ),
    "pcr_by_tenor": lambda df, spot: pcr_by_tenor(df),
    "term_structure": lambda df, spot: term_structure(df),
    "dte_bucket_agg": lambda df, spot: dte_bucket_agg(df),
    "iv_percentile": lambda df, spot: iv_percentile(
        resample_iv(df, keys=("underlying",)),
        ts_col="bucket_ts", keys=("underlying",), lookback_days=7,
    ),
    "greeks": lambda df, spot: portfolio_greeks(
        with_greeks(enrich_with_spot(df, spot)), group_cols=("underlying",)
    ),
    "quality_metrics": lambda df, spot: quality_metrics(df),
    "gap_analysis": lambda df, spot: gap_analysis(df, group_cols=("underlying",)),
}

PYTHON_EVAL_NODES = ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInPandas")


@pytest.mark.parametrize("stage", sorted(FEATURE_STAGES))
def test_feature_stages_plan_no_python(spark, trades_df, spot_pdf, stage):
    df = FEATURE_STAGES[stage](trades_df, spark.createDataFrame(spot_pdf))
    plan = df._jdf.queryExecution().executedPlan().toString()
    found = [op for op in PYTHON_EVAL_NODES if op in plan]
    assert not found, f"{stage} plans {found}"


def test_codegen_cache_holds_a_feature_pass(spark, trades_df, spot_pdf):
    """A second build and collect of perfbench's 8 feature stages
    compiles no class: the generated-code cache holds every class a
    pass generates. At Spark's default of 100 entries the LRU evicts
    them (a pass over perfbench's table generates 125-140), and every
    pass compiles them again. AQE is off for the test so that both
    passes plan the same classes: with it on, the second pass of
    ``contract_pipeline`` can re-plan a few (6 of 46 over a 200k-row
    table; none from the third pass on)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    spot = spark.createDataFrame(spot_pdf)

    def one_pass() -> int:
        for build in FEATURE_STAGES.values():
            build(trades_df, spot).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount()

    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        compiled = one_pass()
        assert one_pass() == compiled
    finally:
        spark.conf.set(key, old)
