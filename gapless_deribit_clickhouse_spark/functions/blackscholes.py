"""Black-Scholes Greeks as pure Catalyst column expressions.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
greeks.py:43-170`` — py_vollib_vectorized (numba) computes delta/gamma/
vega/theta client-side, then a premium-adjusted delta for inverse
options (bs_delta − price/spot, Alexander et al. 2021,
arXiv:2107.12041), with vega/100 and theta/365.25 scaling and a
validity mask (T>0 & iv>0 & spot>0 & strike>0 -> else NaN).

Spark-first: the closed forms stay INSIDE whole-stage codegen — no UDF,
no Arrow crossing, no Python at all. The normal CDF uses the
Abramowitz–Stegun 26.2.17 rational approximation (|err| < 7.5e-8),
written as ONE SQL expression template shared verbatim with the DuckDB
oracle, so both engines evaluate the identical IEEE-754 formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.config import (
    DEFAULT,
    DEFAULT_RISK_FREE_RATE,
    FeatureConfig,
)

INV_SQRT_2PI = "0.3989422804014327"  # 1/sqrt(2*pi)

# φ(x): standard normal PDF.
NORM_PDF_SQL = f"({INV_SQRT_2PI} * exp(-(({{x}}) * ({{x}})) / 2.0))"

# N(x): Abramowitz-Stegun 26.2.17, Horner form; identical text is
# executable by Spark SQL and DuckDB.
NORM_CDF_SQL = (
    "(CASE WHEN ({x}) >= 0 THEN "
    "1.0 - " + NORM_PDF_SQL.format(x="{x}") + " * "
    "((((( 1.330274429 * (1.0/(1.0+0.2316419*({x}))) - 1.821255978) * (1.0/(1.0+0.2316419*({x}))) "
    "+ 1.781477937) * (1.0/(1.0+0.2316419*({x}))) - 0.356563782) * (1.0/(1.0+0.2316419*({x}))) "
    "+ 0.319381530) * (1.0/(1.0+0.2316419*({x}))))"
    " ELSE "
    "1.0 - (CASE WHEN (-({x})) >= 0 THEN "
    "1.0 - " + NORM_PDF_SQL.format(x="(-({x}))") + " * "
    "((((( 1.330274429 * (1.0/(1.0+0.2316419*(-({x})))) - 1.821255978) * (1.0/(1.0+0.2316419*(-({x})))) "
    "+ 1.781477937) * (1.0/(1.0+0.2316419*(-({x})))) - 0.356563782) * (1.0/(1.0+0.2316419*(-({x})))) "
    "+ 0.319381530) * (1.0/(1.0+0.2316419*(-({x})))))"
    " ELSE NULL END) END)"
)


def norm_cdf_sql(x: str) -> str:
    return NORM_CDF_SQL.replace("{x}", f"({x})")


def norm_pdf_sql(x: str) -> str:
    return NORM_PDF_SQL.replace("{x}", f"({x})")


def greeks_sql_exprs(spot: str = "spot_price") -> dict[str, str]:
    """SQL expression per greek over the ``strike``, ``t_years``,
    ``iv``, ``price`` and ``option_type`` columns and the ``spot``
    column, at the default risk-free rate.

    ``t_years`` must already be the year fraction (seconds/31557600).
    All outputs are NULL when the validity mask fails (reference
    greeks.py:121-126).
    """
    strike, t_years, iv, price, option_type = "strike", "t_years", "iv", "price", "option_type"
    r = repr(float(DEFAULT_RISK_FREE_RATE))
    mask = f"({t_years} > 0 AND {iv} > 0 AND {spot} > 0 AND {strike} > 0)"
    sqrt_t = f"sqrt({t_years})"
    d1 = (
        f"((ln({spot} / {strike}) + ({r} + ({iv} * {iv}) / 2.0) * {t_years})"
        f" / ({iv} * {sqrt_t}))"
    )
    d2 = f"({d1} - {iv} * {sqrt_t})"
    n_d1 = norm_cdf_sql(d1)
    n_d2 = norm_cdf_sql(d2)
    n_md2 = norm_cdf_sql(f"-{d2}")
    pdf_d1 = norm_pdf_sql(d1)
    is_call = f"(lower({option_type}) IN ('c', 'call'))"
    disc = f"exp(-({r}) * {t_years})"

    delta = f"(CASE WHEN {is_call} THEN {n_d1} ELSE {n_d1} - 1.0 END)"
    gamma = f"({pdf_d1} / ({spot} * {iv} * {sqrt_t}))"
    vega = f"({spot} * {pdf_d1} * {sqrt_t} / 100.0)"
    theta_core = f"(-({spot} * {pdf_d1} * {iv}) / (2.0 * {sqrt_t}))"
    theta = (
        f"((CASE WHEN {is_call} THEN {theta_core} - {r} * {strike} * {disc} * {n_d2}"
        f" ELSE {theta_core} + {r} * {strike} * {disc} * {n_md2} END) / 365.25)"
    )
    # inverse-option premium adjustment (reference greeks.py:159-165)
    adjusted_delta = f"({delta} - {price} / {spot})"

    def guard(expr: str) -> str:
        return f"(CASE WHEN {mask} THEN {expr} ELSE NULL END)"

    return {
        "delta": guard(delta),
        "gamma": guard(gamma),
        "vega": guard(vega),
        "theta": guard(theta),
        "adjusted_delta": guard(adjusted_delta),
    }


def with_greeks(
    df: DataFrame,
    spot_col: str = "spot_price",
    config: FeatureConfig = DEFAULT,
) -> DataFrame:
    """Append delta/gamma/vega/theta/adjusted_delta columns — all
    whole-stage-codegen, no Python in the hot path. Reads the
    ``options_trades`` columns (``strike``, ``timestamp``, ``expiry``,
    ``iv``, ``price``, ``option_type``) plus ``spot_col``; discounts at
    ``config.risk_free_rate`` and measures time to expiry in years of
    ``config.year_seconds``.

    d1/d2/N(d1)/N(d2)/φ(d1) are staged as intermediate columns:
    inlining them per greek (as one giant SQL string would) makes the
    generated code blow past the JIT method limits and each CDF gets
    re-evaluated up to 5×; staged columns are computed once and reused
    by every greek in the same codegen stage."""
    # Construction cost note (optimization r12, guide §1.2 step 2):
    # the previous form chained 12 withColumn/drop calls; every call
    # re-analyzes the whole logical plan over a py4j round trip, and
    # with the large CDF trees DataFrame CONSTRUCTION cost as much as
    # executing the query at sf0.1 (~0.9 s vs ~1.0 s). This form
    # stages the SAME intermediates (t_years, d1, d2, pdf/CDFs —
    # computed once, reused by every greek, exactly as before) as
    # LATERAL column aliases inside ONE selectExpr: one analysis pass,
    # ~4x cheaper construction, and the arithmetic is the shared
    # NORM_CDF_SQL/NORM_PDF_SQL templates — the identical IEEE-754
    # sequence the DuckDB oracle evaluates, verified bit-identical to
    # the previous Column build.
    # the select("*", ...) form APPENDS; a pre-existing column of the
    # same name would duplicate (AMBIGUOUS_REFERENCE downstream) — the
    # old withColumn form silently overwrote instead. Fail loudly
    # (ADVICE r12).
    added = (
        "t_years", "delta", "gamma", "vega", "theta", "adjusted_delta",
        "__d1", "__d2", "__pdf_d1", "__nd1", "__nd2", "__nmd2",
    )
    clash = [c for c in added if c in df.columns]
    if clash:
        raise ValueError(
            f"with_greeks: input already carries column(s) {clash}; "
            "drop or rename them before enriching"
        )
    spot, strike, iv = f"`{spot_col}`", "`strike`", "`iv`"
    r = repr(float(config.risk_free_rate))
    t = "t_years"
    mask = f"({t} > 0 AND {iv} > 0 AND {spot} > 0 AND {strike} > 0)"
    sqrt_t = f"sqrt({t})"
    # intermediate must be mask-guarded itself: under ANSI mode the
    # iv*sqrt(t) divisor would raise on invalid rows (the per-greek
    # guard below only short-circuits ITS case branch)
    d1 = (
        f"((ln({spot} / {strike}) + ({r} + ({iv} * {iv}) / 2.0) * {t})"
        f" / ({iv} * {sqrt_t}))"
    )
    is_call = "(lower(`option_type`) IN ('c', 'call'))"
    disc = f"exp(-({r}) * {t})"
    delta = f"(CASE WHEN {is_call} THEN __nd1 ELSE __nd1 - 1.0 END)"
    gamma = f"(__pdf_d1 / ({spot} * {iv} * {sqrt_t}))"
    vega = f"({spot} * __pdf_d1 * {sqrt_t} / 100.0)"
    theta_core = f"(-({spot} * __pdf_d1 * {iv}) / (2.0 * {sqrt_t}))"
    theta = (
        f"((CASE WHEN {is_call} THEN {theta_core} - {r} * {strike} * {disc} * __nd2"
        f" ELSE {theta_core} + {r} * {strike} * {disc} * __nmd2 END) / 365.25)"
    )
    adjusted_delta = f"({delta} - `price` / {spot})"

    def guard(expr: str) -> str:
        return f"(CASE WHEN {mask} THEN {expr} ELSE CAST(NULL AS DOUBLE) END)"

    out = df.selectExpr(
        "*",
        "((CAST(CAST(`expiry` AS TIMESTAMP) AS DOUBLE)"
        f" - CAST(`timestamp` AS DOUBLE)) / {float(config.year_seconds)!r}) AS t_years",
        f"(CASE WHEN {mask} THEN {d1} END) AS __d1",
        f"(__d1 - {iv} * {sqrt_t}) AS __d2",
        f"{norm_pdf_sql('__d1')} AS __pdf_d1",
        f"{norm_cdf_sql('__d1')} AS __nd1",
        f"{norm_cdf_sql('__d2')} AS __nd2",
        f"{norm_cdf_sql('-(__d2)')} AS __nmd2",
        f"{guard(delta)} AS delta",
        f"{guard(gamma)} AS gamma",
        f"{guard(vega)} AS vega",
        f"{guard(theta)} AS theta",
        f"{guard(adjusted_delta)} AS adjusted_delta",
    )
    return out.select(*[c for c in out.columns if not c.startswith("__")])


def portfolio_greeks(
    df_with_greeks: DataFrame,
    spot_col: str = "spot_price",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``amount``-weighted portfolio Greeks + dollar Greeks via median
    spot (reference greeks.py:173-238, np.median). Exact interpolated
    percentile (matches the reference)."""
    amt = F.col("amount")
    grouped = df_with_greeks.groupBy(*group_cols) if group_cols else df_with_greeks
    return grouped.agg(
        F.sum(F.col("adjusted_delta") * amt).alias("portfolio_delta"),
        F.sum(F.col("gamma") * amt).alias("portfolio_gamma"),
        F.sum(F.col("vega") * amt).alias("portfolio_vega"),
        F.sum(F.col("theta") * amt).alias("portfolio_theta"),
        F.percentile(F.col(spot_col), F.lit(0.5)).alias("median_spot"),
    )


def greeks_by_bucket(df_with_greeks: DataFrame, bucket_col: str) -> DataFrame:
    """Per-bucket greek stats (reference greeks.py:241-264)."""
    aggs = []
    for g in ("delta", "gamma", "vega", "theta", "adjusted_delta"):
        aggs += [
            F.avg(g).alias(f"{g}_mean"),
            F.stddev_pop(g).alias(f"{g}_std"),
            F.count(g).alias(f"{g}_count"),
        ]
    return df_with_greeks.groupBy(bucket_col).agg(*aggs)
