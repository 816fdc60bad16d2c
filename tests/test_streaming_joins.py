"""Stream-stream join semantics (streaming/joins.py): two live file
streams joined within a time tolerance — match set, leakage (no
future quotes), and the left-outer NULL flush once the watermark
proves no match can arrive."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from gapless_deribit_clickhouse_spark.streaming.joins import stream_stream_enrich

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)

TRADE_SCHEMA = "underlying string, ts timestamp, price double"
SPOT_SCHEMA = "underlying string, spot_ts timestamp, spot double"


def _sec(s: float) -> dt.datetime:
    return BASE + dt.timedelta(seconds=s)


def _start(spark, tdir: str, sdir: str, name: str, how: str):
    trades = spark.readStream.schema(TRADE_SCHEMA).parquet(tdir)
    spots = spark.readStream.schema(SPOT_SCHEMA).parquet(sdir)
    out = stream_stream_enrich(
        trades, spots, tolerance="60 seconds", watermark="2 minutes", how=how
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )


def test_stream_stream_inner_within_tolerance(spark, tmp_path):
    tdir, sdir = str(tmp_path / "t"), str(tmp_path / "s")
    trades = [
        ("BTC", _sec(600), 100.0),  # two in-tolerance quotes
        ("ETH", _sec(600), 10.0),   # exact-timestamp quote
        ("BTC", _sec(1800), 101.0),  # no quote within 60 s
    ]
    spots = [
        ("BTC", _sec(570), 99.0),   # 30 s before the BTC trade
        ("BTC", _sec(545), 98.0),   # 55 s before — also matches
        ("BTC", _sec(500), 97.0),   # 100 s before — outside tolerance
        ("BTC", _sec(630), 96.0),   # 30 s AFTER — future, must not leak
        ("ETH", _sec(600), 11.0),
    ]
    spark.createDataFrame(trades, TRADE_SCHEMA).coalesce(1).write.parquet(tdir)
    spark.createDataFrame(spots, SPOT_SCHEMA).coalesce(1).write.parquet(sdir)

    q = _start(spark, tdir, sdir, "ss_inner", "inner")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM ss_inner").toPandas()
    finally:
        q.stop()

    btc = got[got.underlying == "BTC"].sort_values("spot")
    assert list(btc.spot) == [98.0, 99.0]
    assert sorted(btc.spot_age_s) == [30.0, 55.0]
    eth = got[got.underlying == "ETH"]
    assert len(eth) == 1 and eth.spot.iloc[0] == 11.0 and eth.spot_age_s.iloc[0] == 0.0
    # the unmatched 12:30 trade must not appear in an inner join
    assert (got.price != 101.0).all()


def test_stream_stream_left_outer_flushes_null(spark, tmp_path):
    tdir, sdir = str(tmp_path / "t"), str(tmp_path / "s")
    trades = [("BTC", _sec(600), 100.0), ("BTC", _sec(1800), 101.0)]
    spots = [("BTC", _sec(570), 99.0)]
    spark.createDataFrame(trades, TRADE_SCHEMA).coalesce(1).write.parquet(tdir)
    spark.createDataFrame(spots, SPOT_SCHEMA).coalesce(1).write.parquet(sdir)

    q = _start(spark, tdir, sdir, "ss_outer", "leftOuter")
    try:
        q.processAllAvailable()
        # sentinels hours ahead on BOTH streams drag the global
        # watermark past every real row, forcing the unmatched trade
        # to flush with NULL spot columns
        spark.createDataFrame(
            [("ZZZ", _sec(20000), 0.0)], TRADE_SCHEMA
        ).coalesce(1).write.mode("append").parquet(tdir)
        spark.createDataFrame(
            [("ZZZ", _sec(20000), 0.0)], SPOT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(sdir)
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM ss_outer WHERE underlying = 'BTC'").toPandas()
    finally:
        q.stop()

    matched = got[got.price == 100.0]
    assert len(matched) == 1 and matched.spot.iloc[0] == 99.0
    unmatched = got[got.price == 101.0]
    assert len(unmatched) == 1
    assert pd.isna(unmatched.spot.iloc[0]) and pd.isna(unmatched.spot_age_s.iloc[0])

