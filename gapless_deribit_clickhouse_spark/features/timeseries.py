"""Per-key time-series analytics: drawdown, realized volatility, EWMA.

The reference's analytics tier is built around per-instrument ordered
series (resampling `features/resampler.py`, rolling IV ranks
`operators/rolling.py`, EGARCH log-return inputs `features/egarch.py`);
these three close the remaining gaps a volatility/risk user expects
from that family — running peak-to-trough drawdown, realized
volatility from intraday log returns, and exponentially weighted
smoothing (the RiskMetrics estimator).

Scale design:

- :func:`drawdown_stats` — one shuffle on the key. The running max is
  an UNBOUNDED PRECEDING..CURRENT ROW frame, which Spark evaluates as
  a streaming accumulator (no frame buffer), then a plain groupBy on
  the same key reuses the window's hash partitioning — no second
  exchange. Per-row math only; order-invariant aggregates (min/max),
  so results are shuffle-stable bit-for-bit.
- :func:`realized_vol` — lag + conditional sum per (key, bucket).
  The window partitions by (key, bucket) and the groupBy uses the
  same keys, so the plan carries ONE exchange end-to-end.
- :func:`ewma_by_key` — EWMA is inherently sequential (s_t depends on
  s_{t-1}), which no partial aggregate can express. We collect the
  ordered (ts, id, value) structs per key and fold with
  ``F.aggregate`` — JVM-side, zero Python crossings. Per-key state is
  the key's own history: bounded by events-per-key, not corpus size,
  so at 100 TB this shuffles once on the key and each task folds its
  keys' arrays. For unbounded per-key history the streaming tier's
  stateful operators are the path; this is the batch/backfill shape.

Float-parity note: the fold mirrors DuckDB's ``list_reduce`` exactly
(first element seeds the accumulator, left fold, per-step formula
``s * decay + x * (1 - decay)`` written in the same order), so the
oracle reproduces the EWMA bit-for-bit rather than to rounding noise.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def drawdown_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Peak-to-trough drawdown per key over the ``order_cols`` series.

    drawdown_t = value_t / max(value_{<=t}) - 1 (always <= 0); the
    output keeps the worst (minimum) drawdown, the peak value, and the
    series length per key.

    Drawdown is only defined once a POSITIVE peak exists: rows before
    the first positive observation carry no drawdown (a zero-valued
    series head would otherwise divide by zero — an ANSI-mode error,
    not a NULL, on real ledgers that open at 0).
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max(value_col).over(w)
    dd = F.when(peak > 0, F.col(value_col) / peak - F.lit(1.0))
    return (
        df.withColumn("__dd", dd)
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(value_col).alias("peak_value"),
            F.min("__dd").alias("max_drawdown"),
        )
    )


def realized_vol(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    order_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Realized volatility per (key, bucket): sqrt of the sum of
    squared log returns between consecutive observations WITHIN the
    bucket (the standard realized-variance estimator; bucket = trading
    day in the classic definition).

    The first observation of each bucket has no predecessor and
    contributes no return; single-observation buckets yield NULL
    volatility (0 returns), which the output keeps — absence of an
    estimate, not a zero estimate. Log returns exist only between
    POSITIVE prices: an observation pair touching a zero/negative
    value contributes no return (ln(0) / division-by-zero are
    ANSI-mode errors, and the estimator is undefined there anyway).
    """
    w = Window.partitionBy(*key_cols, bucket_col).orderBy(*order_cols)
    prev = F.lag(value_col).over(w)
    r = F.when(
        (F.col(value_col) > 0) & (prev > 0), F.log(F.col(value_col) / prev)
    )
    return (
        df.withColumn("__r", r)
        .groupBy(*key_cols, bucket_col)
        .agg(
            F.count("__r").alias("n_returns"),
            F.sqrt(F.sum(F.col("__r") * F.col("__r"))).alias("realized_vol"),
        )
    )


def ewma_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    decay: float = 0.9,
) -> DataFrame:
    """Final EWMA state per key over the full ordered series:
    ``s_0 = x_0; s_t = s_{t-1} * decay + x_t * (1 - decay)`` (the
    RiskMetrics lambda filter; decay = 0.94 is their daily-vol
    default).

    Implemented as array_sort(collect_list(struct(order, value)))
    followed by an ``F.aggregate`` left fold — the struct sort makes
    the fold order deterministic under shuffle (collect_list alone is
    partition-order-dependent).
    """
    ordered = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(value_col)))
    )
    vals = F.transform(ordered, lambda s: s[value_col])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(decay) + x * F.lit(1.0 - decay),
    )
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_events"),
        ewma.alias("ewma_value"),
    )


def autocorr_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Lag-1 sample autocorrelation of the per-key ordered value
    series — the serial-dependence screen a volatility desk runs
    before fitting anything autoregressive (the EGARCH tier's input
    diagnostic; reference `features/egarch.py` consumes exactly this
    kind of per-instrument return series).

    One shuffle on the key: the lag window and the per-key aggregate
    share the partitioning, so the plan carries a single exchange.
    Pearson r is assembled from explicit sample moments
    (``covar_samp / (stddev * stddev)``) rather than ``F.corr``: a
    zero-variance series makes ``corr`` raise a divide-by-zero under
    ANSI mode, while the guarded form returns NULL — matching
    DuckDB's ``corr`` (autocorrelation undefined). The n-factors
    cancel, so sample moments give the identical coefficient.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    # BOTH ends of the pair must be non-null (ADVICE r6: with only the
    # __prev filter, stddev_samp(value) / stddev_samp(prev) /
    # covar_samp would each see different row subsets when value_col
    # contains NULLs, diverging from the oracle corr's pairwise
    # deletion — all three moments must see the same pairs)
    pairs = df.withColumn("__prev", F.lag(value_col).over(w)).filter(
        F.col("__prev").isNotNull() & F.col(value_col).isNotNull()
    )
    cov = F.covar_samp(value_col, "__prev")
    s1 = F.stddev_samp(value_col)
    s2 = F.stddev_samp("__prev")
    return pairs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.when((s1 > 0) & (s2 > 0), cov / (s1 * s2)).alias("autocorr"),
    )
