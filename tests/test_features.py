"""Property tests for the domain feature surface — ports of the
reference's assertions (FIXTURES.md §7; reference
tests/features/test_phase1.py and test_greeks.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features import (
    aggregate_by_moneyness,
    atm_filter,
    dte_bucket_agg,
    dte_distribution,
    enrich_with_spot,
    iv_percentile,
    iv_rank,
    pcr_aggregate,
    pcr_by_tenor,
    resample_iv,
    select_contracts,
    spot_coverage,
    term_structure,
    term_structure_ratio,
    term_structure_slope,
    with_greeks,
)
from gapless_deribit_clickhouse_spark.exceptions import ConfigurationError, QueryError
from gapless_deribit_clickhouse_spark.features.config import (
    CONSERVATIVE,
    FeatureConfig,
    get_preset,
)
from gapless_deribit_clickhouse_spark.features.moneyness import moneyness_bucket_col
from gapless_deribit_clickhouse_spark.validation import quality_metrics


def test_resample_ohlc_columns_and_bounds(trades_df):
    bars = resample_iv(trades_df).toPandas()
    assert {"bucket_ts", "iv_open", "iv_high", "iv_low", "iv_close", "volume", "n_obs"} <= set(
        bars.columns
    )
    assert len(bars) > 0
    assert (bars.iv_high >= bars.iv_low).all()
    assert (bars.iv_high >= bars.iv_open).all() and (bars.iv_high >= bars.iv_close).all()
    assert (bars.iv_low <= bars.iv_open).all() and (bars.iv_low <= bars.iv_close).all()
    # reference band: realistic IV (FIXTURES §7)
    assert bars.iv_close.between(0.30, 1.20).all()


def test_resample_bar_ratio_15_vs_30(trades_df):
    from gapless_deribit_clickhouse_spark.features.config import FeatureConfig

    n15 = resample_iv(trades_df).count()
    n30 = resample_iv(trades_df, config=FeatureConfig(resample_seconds=1800)).count()
    assert 1.5 <= n15 / n30 <= 2.5  # reference test_phase1.py:563-576


def test_pcr_bounds(multi_dte_trades):
    pcr = pcr_by_tenor(multi_dte_trades).toPandas()
    assert len(pcr) > 0
    valid = pcr.pcr.dropna()
    assert (valid >= 0).all() and (valid <= 10).all()  # reference :333-344
    agg = pcr_aggregate(multi_dte_trades).toPandas()
    assert (agg.put_volume >= 0).all() and (agg.call_volume >= 0).all()


def test_pcr_count_vs_volume_methods(multi_dte_trades):
    v = pcr_by_tenor(multi_dte_trades, method="volume").count()
    c = pcr_by_tenor(multi_dte_trades, method="count").count()
    assert v > 0 and c > 0


def test_term_structure_slope_bounds(multi_dte_trades):
    out = term_structure(multi_dte_trades).toPandas()
    assert len(out) > 0
    assert (out.ts_slope.abs() <= 0.50).all()  # reference :397-434
    # near (short DTE) has higher IV by construction of the fixture
    assert (out.near_iv > out.far_iv).mean() > 0.9


def test_term_structure_slope_and_ratio_match_term_structure(multi_dte_trades):
    from gapless_deribit_clickhouse_spark.features.config import FeatureConfig

    cfg = FeatureConfig(resample_seconds=1800)
    full = term_structure(multi_dte_trades, config=cfg).toPandas()
    assert len(full) > 0
    for fn, col in ((term_structure_slope, "ts_slope"), (term_structure_ratio, "ts_ratio")):
        got = fn(multi_dte_trades, cfg).toPandas()
        cols = ["ts", "near_iv", "far_iv", col]
        assert list(got.columns) == cols
        pd.testing.assert_frame_equal(
            got.sort_values("ts").reset_index(drop=True),
            full[cols].sort_values("ts").reset_index(drop=True),
        )


def test_dte_buckets_all_populated(multi_dte_trades):
    agg = dte_bucket_agg(multi_dte_trades).toPandas()
    assert set(agg.dte_bucket) == {
        "dte_0_7", "dte_8_14", "dte_15_30", "dte_31_60", "dte_61_90", "dte_91_999"
    }
    dist = dte_distribution(multi_dte_trades).toPandas()
    sums = dist.groupby("ts").volume_pct.sum()
    assert np.allclose(sums, 100.0)


def test_moneyness_bucket_boundaries(spark):
    # reference test_greeks.py:189-209 boundary pins; the exact
    # threshold values pin the half-open intervals [0.95,1.05),
    # [1.05,1.10), [1.10,inf) — a regression back to <= would flip
    # the 1.05 and 1.10 rows.
    cases = [(0.85, "deep_otm_put"), (0.90, "otm_put"), (0.92, "otm_put"),
             (0.95, "atm"), (1.0, "atm"), (1.04, "atm"),
             (1.05, "otm_call"), (1.07, "otm_call"),
             (1.10, "deep_otm_call"), (1.15, "deep_otm_call")]
    df = spark.createDataFrame([(m,) for m, _ in cases], "m double")
    got = df.select(moneyness_bucket_col(F.col("m")).alias("b")).toPandas().b.tolist()
    assert got == [b for _, b in cases]


def test_moneyness_pivot_has_atm_and_skew(trades_df):
    wide = aggregate_by_moneyness(
        trades_df.withColumn("moneyness", F.col("strike") / F.col("index_price"))
    ).toPandas()
    assert (wide.atm_count > 0).all()
    assert "put_call_skew" in wide and "smile_curvature" in wide and "wing_ratio" in wide


def test_iv_percentile_bounds(spark, regular_iv_series):
    df = spark.createDataFrame(regular_iv_series)
    out = iv_percentile(df, lookback_days=1, min_periods=1).toPandas()
    assert out.iv_percentile.between(0, 100).all()
    # different lookbacks must differ (reference :222-246)
    out2 = iv_percentile(df, lookback_days=2, min_periods=1).toPandas()
    merged = out.merge(out2, on="ts", suffixes=("_1", "_2"))
    assert (merged.iv_percentile_1 != merged.iv_percentile_2).any()


def test_iv_rank_bounds_and_null_guard(spark, regular_iv_series):
    df = spark.createDataFrame(regular_iv_series)
    mp = 4
    for build, col in ((iv_rank, "iv_rank"), (iv_percentile, "iv_percentile")):
        out = build(df, lookback_days=1, min_periods=mp).toPandas().sort_values("ts")
        assert out[col].dropna().between(0, 100).all()
        # on the gapless grid the first min_periods - 1 frames are too
        # short, and the next one is not
        assert out[col].iloc[: mp - 1].isna().all(), col
        assert out[col].iloc[mp - 1 :].notna().all(), col


def _rolling_reference(keys, ts, v, lookback, min_periods):
    """Brute force over every row: the frame is the rows of the same key
    with ``ts - lookback <= ts_r <= ts`` (NaN value = null). Returns the
    percentile rank (nulls count in the frame, are <= nothing) and the
    min-max rank (over the non-null values)."""
    n = len(ts)
    pct, mm = np.full(n, np.nan), np.full(n, np.nan)
    for i in range(n):
        w = v[(keys == keys[i]) & (ts >= ts[i] - lookback) & (ts <= ts[i])]
        if len(w) >= min_periods:
            pct[i] = 100.0 * np.count_nonzero(w <= v[i]) / len(w)
        vals = w[~np.isnan(w)]
        if len(vals) >= min_periods and vals.max() > vals.min():
            mm[i] = (v[i] - vals.min()) / (vals.max() - vals.min()) * 100.0
    return pct, mm


def _check_against_reference(df, pdf, lookback, min_periods, bucket_seconds=None):
    """Both operators over ``df`` (keyed ``k``, ``id``-tagged, value
    ``v``) equal ``_rolling_reference`` over ``pdf`` (``ts`` in epoch
    seconds) row for row."""
    from gapless_deribit_clickhouse_spark.operators.rolling import (
        rolling_minmax_rank,
        rolling_percentile_rank,
    )

    args = (df, "ts", "v", ["k"], lookback, min_periods)
    pct = rolling_percentile_rank(*args, bucket_seconds=bucket_seconds)
    mm = rolling_minmax_rank(*args, bucket_seconds=bucket_seconds)
    got = pct.join(mm.select("id", "minmax_rank"), "id").toPandas().sort_values("id")
    assert got.id.tolist() == pdf.id.tolist()
    want_pct, want_mm = _rolling_reference(
        pdf.k.to_numpy(dtype=object), pdf.ts.to_numpy(), pdf.v.to_numpy(dtype="float64"),
        lookback, min_periods,
    )
    assert np.allclose(got.pct_rank.astype(float), want_pct, equal_nan=True, rtol=1e-12)
    assert np.allclose(got.minmax_rank.astype(float), want_mm, equal_nan=True, rtol=1e-12)


def test_rolling_impls_agree(spark, regular_iv_series):
    """Percentile and min-max rank, per key and bucket-parallel, equal
    the brute-force reference on the 15-min series."""
    pdf = pd.DataFrame({
        "id": np.arange(len(regular_iv_series)),
        "k": "x",
        "ts": regular_iv_series.ts.astype("int64").to_numpy() / 1e9,
        "v": regular_iv_series.iv_close,
    })
    df = spark.createDataFrame(pdf, "id long, k string, ts double, v double").withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    _check_against_reference(df, pdf, 86400, 4)
    _check_against_reference(df, pdf, 3600, 4, bucket_seconds=3600)


@pytest.mark.parametrize("ts_type", ["timestamp", "double"])
def test_rolling_matches_reference_on_ties_nulls_subsecond(spark, ts_type):
    """Seeded series with value ties, timestamp ties, quarter-second
    gaps, 5% null values and a null key: both operators equal the
    brute-force reference, on a timestamp and an epoch-seconds ``ts``,
    per key and bucket-parallel."""
    rng = np.random.default_rng(17)
    n = 240
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "k": rng.choice(np.array(["a", "b", None], dtype=object), n),
        "ts": 1_700_000_000.0 + np.sort(rng.choice(np.arange(0.0, 300.0, 0.25), n)),
        "v": np.where(rng.random(n) < 0.05, np.nan, rng.integers(0, 12, n).astype(float)),
    })
    df = spark.createDataFrame(pdf, "id long, k string, ts double, v double").withColumn(
        "v", F.when(~F.isnan("v"), F.col("v"))
    )
    if ts_type == "timestamp":
        df = df.withColumn("ts", F.timestamp_seconds("ts"))
    assert df.filter(F.col("v").isNull()).count() > 0
    for lookback, mp, bucket in ((1, 1, None), (20, 3, None), (20, 3, 20.5)):
        _check_against_reference(df, pdf, lookback, mp, bucket_seconds=bucket)


def test_minmax_rank_frames_sub_second(spark):
    """The trailing frame is exact below a second: with a 1 s lookback
    the row at 10.2 s is outside the frames of the rows at 11.5 s and
    11.9 s (framing on whole seconds let it in)."""
    from gapless_deribit_clickhouse_spark.operators.rolling import rolling_minmax_rank

    rows = [("x", 10.2, 100.0), ("x", 11.5, 0.0), ("x", 11.9, 50.0)]
    num = spark.createDataFrame(rows, "k string, ts double, v double")
    ts = num.withColumn("ts", F.timestamp_seconds("ts"))
    for df in (num, ts, ts.withColumn("ts", F.col("ts").cast("timestamp_ntz"))):
        got = rolling_minmax_rank(df, "ts", "v", ["k"], 1, 1).toPandas().sort_values("ts")
        r = got.minmax_rank.tolist()
        assert pd.isna(r[0]) and pd.isna(r[1]) and r[2] == 100.0, r


def test_percentile_rank_bucketed_matches_unbucketed(spark, regular_iv_series):
    """The bucket-parallel window (donor copies from the previous
    bucket, ranks for own rows only) must reproduce the per-key window
    exactly."""
    from gapless_deribit_clickhouse_spark.operators.rolling import (
        rolling_percentile_rank,
    )

    df = spark.createDataFrame(regular_iv_series).withColumn("k", F.lit("x"))
    plain = (
        rolling_percentile_rank(df, "ts", "iv_close", ["k"], 3600, 4)
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    bucketed = (
        rolling_percentile_rank(
            df, "ts", "iv_close", ["k"], 3600, 4, bucket_seconds=3600
        )
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert len(bucketed) == len(plain)
    assert np.allclose(plain.pct_rank, bucketed.pct_rank, equal_nan=True)
    with pytest.raises(ValueError):
        rolling_percentile_rank(
            df, "ts", "iv_close", ["k"], 3600, 4, bucket_seconds=60
        )


@pytest.mark.parametrize("op,aggregates", [("rolling_percentile_rank", 2), ("rolling_minmax_rank", 3)])
@pytest.mark.parametrize("bucket_seconds", [None, 3600])
def test_rolling_computes_each_frame_aggregate_once(spark, regular_iv_series, op, aggregates, bucket_seconds):
    """One window expression per frame aggregate in the optimized plan:
    the percentile's count(1) and collect_list(v), the min-max rank's
    min(v), max(v) and count(v). Each rank uses one of them twice (the
    count in the guard and the divisor, min in ``v - lo`` and
    ``hi - lo``), and Catalyst does not merge equal window expressions,
    so building the rank from ``over(w)`` calls plans 3 and 5."""
    from gapless_deribit_clickhouse_spark.operators import rolling

    df = spark.createDataFrame(regular_iv_series).withColumn("k", F.lit("x"))
    out = getattr(rolling, op)(df, "ts", "iv_close", ["k"], 3600, 4, bucket_seconds=bucket_seconds)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("windowspecdefinition(") == aggregates, plan


def test_minmax_rank_bucketed_parallelism(spark, regular_iv_series):
    """VERDICT r2 #8 + ADVICE r3: with ``bucket_seconds`` given, the
    min-max rank window partitions by (key, bucket), not key alone — a
    1-key input must spread across >2 partitions, with results
    identical to the default single-window run. Default (None) keeps
    one window per key with NO carry copies (opt-in semantics matching
    rolling_percentile_rank)."""
    from gapless_deribit_clickhouse_spark.operators.rolling import rolling_minmax_rank

    df = spark.createDataFrame(regular_iv_series).withColumn("k", F.lit("x"))
    default = rolling_minmax_rank(df, "ts", "iv_close", ["k"], 3600, 4)
    assert "__bucket" not in default._jdf.queryExecution().optimizedPlan().toString()
    out = rolling_minmax_rank(
        df, "ts", "iv_close", ["k"], 3600, 4, bucket_seconds=3600
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__bucket" in plan
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key, "true")
    try:
        spark.conf.set(key, "false")
        pids = {r.p for r in out.withColumn("p", F.spark_partition_id()).collect()}
    finally:
        spark.conf.set(key, old)
    assert len(pids) > 2
    # bucketing must not change results: default (single per-key
    # window) == tight buckets == one wide bucket
    a = out.toPandas().sort_values("ts").reset_index(drop=True)
    d = default.toPandas().sort_values("ts").reset_index(drop=True)
    b = (
        rolling_minmax_rank(
            df, "ts", "iv_close", ["k"], 3600, 4, bucket_seconds=365 * 86400
        )
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert np.allclose(a.minmax_rank, b.minmax_rank, equal_nan=True)
    assert np.allclose(a.minmax_rank, d.minmax_rank, equal_nan=True)
    # carried copies must not leak into the output
    assert len(a) == df.count()
    # zero lookback (frame [t, t]): every row sees exactly itself
    z = rolling_minmax_rank(
        df, "ts", "iv_close", ["k"], 0, 1, bucket_seconds=1
    ).toPandas()
    assert len(z) == len(a)
    assert z.minmax_rank.isna().all()  # max == min in a 1-row frame
    # non-positive width raises, matching rolling_percentile_rank
    with pytest.raises(ValueError):
        rolling_minmax_rank(df, "ts", "iv_close", ["k"], 0, 1, bucket_seconds=0)


def test_contract_selection_strategies(trades_df):
    all_n = select_contracts(trades_df, "all").count()
    fm = select_contracts(trades_df, "front_month")
    fm_n = fm.count()
    atm_n = select_contracts(trades_df, "front_month_atm").count()
    assert all_n >= fm_n >= atm_n
    # front-month keeps min DTE per (window, underlying)
    pdf = fm.toPandas()
    assert (pd.to_datetime(pdf.expiry) - pd.to_datetime(pdf.timestamp).dt.normalize()).dt.days.min() >= 0


def test_get_contract_stats_funnel(trades_df):
    from gapless_deribit_clickhouse_spark.features import get_contract_stats

    stats = get_contract_stats(trades_df)
    assert set(stats) == {
        "all", "front_month", "front_month_atm", "front_month_atm_liquid"
    }
    assert (
        stats["all"] >= stats["front_month"] >= stats["front_month_atm"]
        >= stats["front_month_atm_liquid"] >= 0
    )
    assert stats["all"] == trades_df.count()


def test_enrich_with_spot_hybrid(spark, trades_df, spot_pdf):
    spot = spark.createDataFrame(spot_pdf)
    # null out some index prices to exercise the fallback
    t = trades_df.withColumn(
        "index_price", F.when(F.col("trade_id").substr(-1, 1) == "0", None).otherwise(F.col("index_price"))
    )
    out = enrich_with_spot(t, spot).toPandas()
    assert {"binance_spot", "spot_price", "moneyness"} <= set(out.columns)
    nulled = out[out.index_price.isna()]
    # hybrid: where index_price is null but the dim has the window, spot_price = binance_spot
    filled = nulled[nulled.binance_spot.notna()]
    assert (filled.spot_price == filled.binance_spot).all()
    kept = out[out.index_price.notna()]
    assert (kept.spot_price == kept.index_price).all()


@pytest.mark.parametrize(
    "call",
    ["quality_metrics", "spot_coverage", "atm_filter", "enrich_with_spot", "dte_distribution"],
)
def test_zero_divisor_gives_null_not_divide_by_zero(spark, trades_df, spot_pdf, call):
    """Spark 4 runs with ANSI on, where a bare ``/`` by 0 raises
    DIVIDE_BY_ZERO. An empty frame has null rates, a zero
    ``index_price`` has no ATM ratio (the row is dropped), a zero
    ``spot_price`` has a null ``moneyness`` and a window whose amounts
    sum to 0 has null volume shares."""
    empty = trades_df.limit(0)
    # a trade_id ending in 0 has a null index, one ending in 1 a zero index
    last = F.col("trade_id").substr(-1, 1)
    broken = trades_df.withColumn(
        "index_price",
        F.when(last == "0", None).when(last == "1", 0.0).otherwise(F.col("index_price")),
    )
    if call == "quality_metrics":
        (row,) = quality_metrics(empty).collect()
        assert row.total_rows == 0
        rates = (row.dedup_rate, row.iv_null_or_zero_rate, row.index_price_null_or_zero_rate)
        assert rates == (None, None, None)
    elif call == "spot_coverage":
        (row,) = spot_coverage(enrich_with_spot(empty, spark.createDataFrame(spot_pdf))).collect()
        assert row.total_rows == 0
        assert (row.index_price_rate, row.fallback_rate, row.spot_coverage_rate) == (None, None, None)
    elif call == "dte_distribution":
        dist = dte_distribution(trades_df.withColumn("amount", F.lit(0.0))).toPandas()
        assert len(dist) > 0 and (dist.volume_sum == 0).all()
        assert dist.volume_pct.isna().all()
    elif call == "atm_filter":
        kept = atm_filter(broken).toPandas()
        assert len(kept) > 0 and (kept.index_price > 0).all()
    else:
        # a zero Binance close stands in for every null index
        zero_close = spark.createDataFrame(spot_pdf.assign(close=0.0))
        out = enrich_with_spot(broken, zero_close).toPandas()
        zero = out[out.spot_price == 0]
        assert zero.index_price.isna().any() and (zero.index_price == 0).any()
        assert zero.moneyness.isna().all()
        assert out[out.spot_price > 0].moneyness.notna().all()
        assert aggregate_by_moneyness(enrich_with_spot(broken, zero_close)).count() > 0


def test_greeks_sanity(spark):
    # reference test_greeks.py:32-140 exact sanity pins
    rows = [
        ("a", "C", 100000.0, 0.80, 0.05),
        ("b", "P", 100000.0, 0.82, 0.045),
        ("c", "C", 95000.0, 0.75, 0.08),
    ]
    df = spark.createDataFrame(rows, "trade_id string, option_type string, strike double, iv double, price double")
    df = (
        df.withColumn("timestamp", F.lit("2024-06-01 00:00:00").cast("timestamp"))
        .withColumn("expiry", F.lit("2024-06-15").cast("date"))
        .withColumn("spot_price", F.lit(100000.0))
        .withColumn("price", F.col("price") * F.col("spot_price"))
    )
    g = with_greeks(df).toPandas().set_index("trade_id")
    atm_call, atm_put = g.loc["a"], g.loc["b"]
    assert 0.5 <= atm_call.delta <= 0.6
    assert -0.5 <= atm_put.delta <= -0.4
    assert (g.gamma > 0).all() and (g.vega > 0).all() and (g.theta < 0).all()
    calls = g[g.option_type == "C"]
    assert (calls.adjusted_delta < calls.delta).all()


def test_greeks_invalid_inputs_null(spark):
    rows = [("expired", "C", 100000.0, 0.8, 5000.0, "2024-06-01 00:00:00", "2024-05-01"),
            ("zeroiv", "C", 100000.0, 0.0, 5000.0, "2024-06-01 00:00:00", "2024-06-15")]
    df = spark.createDataFrame(
        rows,
        "trade_id string, option_type string, strike double, iv double, price double, ts string, exp string",
    ).selectExpr(
        "trade_id", "option_type", "strike", "iv", "price",
        "CAST(ts AS TIMESTAMP) AS timestamp", "CAST(exp AS DATE) AS expiry",
        "100000.0D AS spot_price",
    )
    g = with_greeks(df).toPandas()
    assert g.delta.isna().all() and g.gamma.isna().all()


def test_feature_config_reference_parity(spark):
    """Pin the defaults to the reference's FeatureConfig
    (reference features/config.py:63-94): 6-bucket DTE set incl. the
    split (8,14)/(15,30), 90-day IV lookback, 2% risk-free rate — and
    check that ``with_greeks`` reads its discount rate and year length
    from the config it is given."""
    from gapless_deribit_clickhouse_spark.features.config import DEFAULT

    assert DEFAULT.dte_buckets == (
        (0, 7), (8, 14), (15, 30), (31, 60), (61, 90), (91, 999)
    )
    assert DEFAULT.iv_lookback_days == 90
    assert DEFAULT.risk_free_rate == 0.02
    assert DEFAULT.atm_width == 0.05
    assert DEFAULT.min_volume == 10.0
    assert DEFAULT.moneyness_thresholds == (0.90, 0.95, 1.05, 1.10)
    assert DEFAULT.near_dte_max == 30 and DEFAULT.far_dte_min == 60
    # one ATM call two weeks from expiry, priced under two configs
    import math

    df = spark.createDataFrame(
        [("C", 100000.0, 0.8, 5000.0, 100000.0)],
        "option_type string, strike double, iv double, price double, spot_price double",
    ).selectExpr(
        "*", "TIMESTAMP'2024-06-01 00:00:00' AS timestamp", "DATE'2024-06-15' AS expiry"
    )

    def norm_cdf(x):
        return 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))

    custom = FeatureConfig(risk_free_rate=0.10, year_seconds=365.0 * 86400.0)
    for cfg in (DEFAULT, custom):
        got = with_greeks(df, config=cfg).first()
        t = 14 * 86400.0 / cfg.year_seconds
        r, s, k, iv = cfg.risk_free_rate, 100000.0, 100000.0, 0.8
        d1 = (math.log(s / k) + (r + iv * iv / 2.0) * t) / (iv * math.sqrt(t))
        d2 = d1 - iv * math.sqrt(t)
        pdf_d1 = math.exp(-d1 * d1 / 2.0) / math.sqrt(2.0 * math.pi)
        theta = (-(s * pdf_d1 * iv) / (2.0 * math.sqrt(t))
                 - r * k * math.exp(-r * t) * norm_cdf(d2)) / 365.25
        assert got.t_years == pytest.approx(t, rel=1e-12)
        assert got.delta == pytest.approx(norm_cdf(d1), abs=1e-6)
        assert got.theta == pytest.approx(theta, rel=1e-5)


def test_feature_config_rejects_invalid_values():
    with pytest.raises(ConfigurationError, match="resample_seconds"):
        FeatureConfig(resample_seconds=0)
    with pytest.raises(ConfigurationError, match="atm_width"):
        FeatureConfig(atm_width=1.0)
    with pytest.raises(ConfigurationError, match="moneyness_thresholds"):
        FeatureConfig(moneyness_thresholds=(1.10, 1.05, 0.95, 0.90))


def test_get_preset_unknown_name():
    assert get_preset("conservative") is CONSERVATIVE
    with pytest.raises(ConfigurationError, match="unknown preset"):
        get_preset("aggressive")


def test_select_contracts_unknown_strategy(trades_df):
    with pytest.raises(QueryError, match="unknown strategy"):
        select_contracts(trades_df, "back_month")


def test_pcr_rejects_unknown_method(multi_dte_trades):
    with pytest.raises(ValueError, match="method"):
        pcr_by_tenor(multi_dte_trades, method="notional")


def test_enrichers_refuse_column_clash(spark, trades_df, spot_pdf):
    """Both enrichers append columns with ``select("*", ...)``; an input
    that already carries one of them fails instead of duplicating it."""
    spot = spark.createDataFrame(spot_pdf)
    with pytest.raises(ValueError, match="moneyness"):
        enrich_with_spot(trades_df.withColumn("moneyness", F.lit(1.0)), spot)
    priced = trades_df.withColumn("spot_price", F.col("index_price"))
    with pytest.raises(ValueError, match="delta"):
        with_greeks(priced.withColumn("delta", F.lit(0.0)))


def test_rolling_percentile_numeric_epoch_and_ties(spark):
    """r4 operator review: (a) a numeric epoch-seconds ts column used
    to be silently rescaled through datetime64[us], making every
    window span the whole series; (b) rows tied on timestamp must all
    see each other, not depend on shuffle order."""
    from gapless_deribit_clickhouse_spark.operators.rolling import rolling_percentile_rank

    base = 1_700_000_000.0
    rows = [
        ("x", base + 0.0, 10.0),
        ("x", base + 60.0, 20.0),
        ("x", base + 60.0, 30.0),  # tied timestamp
        ("x", base + 7200.0, 40.0),  # outside the 1h lookback of prior
    ]
    num = spark.createDataFrame(rows, "k string, ts double, v double")
    got = (
        rolling_percentile_rank(num, "ts", "v", ["k"], 3600, 1)
        .toPandas()
        .sort_values(["ts", "v"])
        .reset_index(drop=True)
    )
    # numeric path: last row's window contains only itself (numeric
    # seconds honored — the old bug made every window global)
    assert got.iloc[3].pct_rank == 100.0
    # tied rows both see the full 3-row window {10,20,30}
    assert got.iloc[1].pct_rank == pytest.approx(100 * 2 / 3)
    assert got.iloc[2].pct_rank == pytest.approx(100.0)
    # a timestamp ts ranks the same, and both equal the brute-force reference
    want, _ = _rolling_reference(
        np.array(["x"] * 4, dtype=object), got.ts.to_numpy(), got.v.to_numpy(), 3600, 1
    )
    assert np.allclose(got.pct_rank, want)
    tdf = num.withColumn("ts", F.timestamp_seconds("ts"))
    for d in (tdf, tdf.withColumn("ts", F.col("ts").cast("timestamp_ntz"))):
        a = (
            rolling_percentile_rank(d, "ts", "v", ["k"], 3600, 1)
            .toPandas().sort_values(["ts", "v"]).reset_index(drop=True)
        )
        assert np.allclose(a.pct_rank, want)
