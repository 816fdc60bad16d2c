"""Property-based and determinism tests.

The reference explicitly declined property-based testing
(``/root/reference/docs/adr/2025-12-08-mise-pagination-validation.md:153``);
we add it where it pays: parser roundtrips (hypothesis) and
shuffle-determinism of the operators whose semantics depend on
ordering (SURVEY §7.3.2-3: min_by/max_by OHLC, dedup winner).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from gapless_deribit_clickhouse_spark.functions.instrument import (
    Instrument,
    format_instrument,
    is_valid_instrument,
    parse_instrument,
)


@given(
    und=st.sampled_from(["BTC", "ETH", "SOL"]),
    expiry=st.dates(dt.date(2018, 1, 1), dt.date(2099, 12, 31)),
    strike=st.integers(1, 10_000_000),
    opt=st.sampled_from(["C", "P"]),
)
@settings(max_examples=300, deadline=None)
def test_instrument_format_parse_roundtrip(und, expiry, strike, opt):
    inst = Instrument(und, expiry, float(strike), opt)
    back = parse_instrument(inst.format())
    assert back == inst


@given(
    und=st.sampled_from(["BTC", "ETH"]),
    expiry=st.dates(dt.date(2018, 1, 1), dt.date(2099, 12, 31)),
    strike=st.integers(1, 10_000_000),
    opt=st.sampled_from(["C", "P"]),
)
@settings(max_examples=200, deadline=None)
def test_format_instrument_scalar_roundtrip(und, expiry, strike, opt):
    name = format_instrument(und, expiry, float(strike), opt)
    back = parse_instrument(name)
    assert (back.underlying, back.expiry, back.strike, back.option_type) == (
        und, expiry, float(strike), opt
    )


def test_format_instrument_rejects_bad_components():
    import pytest

    from gapless_deribit_clickhouse_spark.exceptions import InstrumentParseError

    with pytest.raises(InstrumentParseError):
        format_instrument("DOGE", dt.date(2024, 1, 1), 1.0, "C")
    with pytest.raises(InstrumentParseError):
        format_instrument("BTC", dt.date(2024, 1, 1), 1.0, "X")


@given(st.text(max_size=30))
@settings(max_examples=200, deadline=None)
def test_arbitrary_text_never_crashes_validator(s):
    assert is_valid_instrument(s) in (True, False)


def _sorted_rows(df):
    # floats rounded: parallel SUM order legitimately perturbs the
    # last bit; open/high/low/close/winner picks must be EXACT
    return sorted(
        tuple(f"{v:.9g}" if isinstance(v, float) else str(v) for v in r)
        for r in df.collect()
    )


def test_dedup_resample_top1_deterministic_under_repartition(spark, trades_df):
    """Same results regardless of input partitioning — guards the
    min_by/max_by tie-break design (a first/last formulation would
    flake here)."""
    from pyspark.sql import functions as F

    from gapless_deribit_clickhouse_spark.operators.dedup import dedup_latest
    from gapless_deribit_clickhouse_spark.operators.resample import ohlc_resample
    from gapless_deribit_clickhouse_spark.operators.topk import top1_per_group

    # duplicate trade_ids with differing timestamps to stress the winner rule
    noisy = trades_df.unionByName(
        trades_df.filter(F.col("trade_id") < "TRD-000050").withColumn(
            "timestamp", F.col("timestamp") + F.expr("INTERVAL 1 SECOND")
        )
    )
    for build in (
        lambda d: dedup_latest(d, keys=["trade_id"], version_cols=["timestamp", "trade_id"]),
        lambda d: ohlc_resample(
            d, ts_col="timestamp", value_col="iv",
            volume_col="amount", tiebreak_col="trade_id",
        ),
        lambda d: top1_per_group(
            d,
            group_cols=["underlying"],
            order_col=F.struct(F.col("strike"), F.col("trade_id")),
            payload_cols=["trade_id", "strike", "iv"],
        ),
    ):
        a = _sorted_rows(build(noisy.repartition(1)))
        b = _sorted_rows(build(noisy.repartition(17, "option_type")))
        assert a == b
