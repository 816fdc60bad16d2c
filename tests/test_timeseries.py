"""Semantics tests for the series tier: drawdown / realized vol /
EWMA (features/timeseries.py), CollapsingMergeTree parity
(operators/dedup.collapse_by_sign), SCD2 history (operators/scd.py)
and lag-1 autocorrelation — hand-built inputs with hand-computed
expected values; the DuckDB value oracles live in
bindings/series_ops.py."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.features.timeseries import (
    drawdown_stats,
    ewma_by_key,
    realized_vol,
)
from gapless_deribit_clickhouse_spark.operators.dedup import collapse_by_sign
from gapless_deribit_clickhouse_spark.operators.scd import (
    point_in_time_join,
    scd2_history,
)


def _ts(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)


def _series(spark, values, key="a"):
    return spark.createDataFrame(
        [(key, _ts(i), i, float(v)) for i, v in enumerate(values)],
        "key string, ts timestamp, seq long, value double",
    )


def test_drawdown_stats(spark):
    out = drawdown_stats(
        _series(spark, [100, 80, 120, 60]), ["key"], ["ts", "seq"], "value"
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_events"] == 4
    assert row["peak_value"] == 120.0
    assert row["max_drawdown"] == pytest.approx(60.0 / 120.0 - 1.0)


def test_drawdown_is_running_not_global(spark):
    # trough BEFORE the peak must not count: [50, 100] has no drawdown
    row = drawdown_stats(
        _series(spark, [50, 100]), ["key"], ["ts", "seq"], "value"
    ).collect()[0]
    assert row["max_drawdown"] == 0.0


def test_drawdown_zero_head_is_guarded(spark):
    # a series that OPENS at 0 must not divide by zero (ANSI mode);
    # drawdown starts existing at the first positive peak
    row = drawdown_stats(
        _series(spark, [0.0, 100.0, 50.0]), ["key"], ["ts", "seq"], "value"
    ).collect()[0]
    assert row["max_drawdown"] == pytest.approx(-0.5)
    # all-zero series: no positive peak -> no drawdown at all
    row = drawdown_stats(
        _series(spark, [0.0, 0.0]), ["key"], ["ts", "seq"], "value"
    ).collect()[0]
    assert row["max_drawdown"] is None and row["n_events"] == 2


def test_realized_vol(spark):
    df = _series(spark, [100.0, 110.0, 99.0]).withColumn(
        "day", F.date_trunc("day", "ts")
    )
    row = realized_vol(df, ["key"], "day", ["ts", "seq"], "value").collect()[0]
    expect = math.sqrt(
        math.log(110.0 / 100.0) ** 2 + math.log(99.0 / 110.0) ** 2
    )
    assert row["n_returns"] == 2
    assert row["realized_vol"] == pytest.approx(expect, rel=1e-12)


def test_realized_vol_single_obs_bucket_is_null(spark):
    df = _series(spark, [100.0]).withColumn("day", F.date_trunc("day", "ts"))
    row = realized_vol(df, ["key"], "day", ["ts", "seq"], "value").collect()[0]
    assert row["n_returns"] == 0 and row["realized_vol"] is None


def test_realized_vol_zero_price_contributes_no_return(spark):
    # 100 -> 0 -> 110: both pairs touch a zero, so no return exists —
    # not an ANSI division/ln(0) error, not a fake infinite return
    df = _series(spark, [100.0, 0.0, 110.0]).withColumn(
        "day", F.date_trunc("day", "ts")
    )
    row = realized_vol(df, ["key"], "day", ["ts", "seq"], "value").collect()[0]
    assert row["n_returns"] == 0 and row["realized_vol"] is None


def test_ewma_fold_matches_recursion(spark):
    vals = [1.0, 2.0, 3.0]
    row = ewma_by_key(
        _series(spark, vals), ["key"], ["ts", "seq"], "value", decay=0.5
    ).collect()[0]
    s = vals[0]
    for x in vals[1:]:
        s = s * 0.5 + x * 0.5
    assert row["ewma_value"] == s == 2.25
    assert row["n_events"] == 3


def test_ewma_stable_under_shuffle(spark):
    df = _series(spark, [float(v) for v in range(40)]).repartition(8)
    a = ewma_by_key(df, ["key"], ["ts", "seq"], "value").collect()[0]
    b = ewma_by_key(df.repartition(3), ["key"], ["ts", "seq"], "value").collect()[0]
    assert a["ewma_value"] == b["ewma_value"]


def test_collapse_by_sign(spark):
    rows = [
        # key "x": +1 then its cancel -> net 0, dropped
        ("x", _ts(0), 0, 10.0, 1),
        ("x", _ts(1), 1, 10.0, -1),
        # key "y": two inserts, one cancel -> net 1, latest row wins
        ("y", _ts(0), 2, 5.0, 1),
        ("y", _ts(2), 3, 7.0, 1),
        ("y", _ts(1), 4, 5.0, -1),
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double, sign int"
    )
    out = collapse_by_sign(df, ["key"], "sign", ["ts", "seq"]).collect()
    assert len(out) == 1
    row = out[0]
    assert row["key"] == "y" and row["value"] == 7.0 and row["net"] == 1
    assert "sign" not in out[0].asDict()


def test_scd2_history_compresses_runs(spark):
    rows = [
        ("u", _ts(0), 0, "A"),
        ("u", _ts(1), 1, "A"),  # unchanged -> compressed
        ("u", _ts(2), 2, "B"),
        ("u", _ts(3), 3, "A"),  # back to A -> NEW version (type 2)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, seq long, attr string")
    out = {
        r["version"]: r
        for r in scd2_history(df, ["key"], ["ts", "seq"], ["attr"]).collect()
    }
    assert len(out) == 3
    assert [out[v]["attr"] for v in (1, 2, 3)] == ["A", "B", "A"]
    assert out[1]["valid_from"] == _ts(0) and out[1]["valid_to"] == _ts(2)
    assert out[2]["valid_to"] == _ts(3)
    assert out[3]["valid_to"] is None and out[3]["is_current"]
    assert not out[1]["is_current"] and not out[2]["is_current"]


def test_scd2_null_attr_is_a_state(spark):
    rows = [("u", _ts(0), 0, None), ("u", _ts(1), 1, None), ("u", _ts(2), 2, "A")]
    df = spark.createDataFrame(rows, "key string, ts timestamp, seq long, attr string")
    out = scd2_history(df, ["key"], ["ts", "seq"], ["attr"]).collect()
    assert [r["attr"] for r in sorted(out, key=lambda r: r["version"])] == [None, "A"]


def test_point_in_time_join_half_open(spark):
    changes = [("u", _ts(0), 0, "A"), ("u", _ts(10), 1, "B")]
    hist = scd2_history(
        spark.createDataFrame(
            changes, "key string, ts timestamp, seq long, attr string"
        ),
        ["key"],
        ["ts", "seq"],
        ["attr"],
    )
    facts = spark.createDataFrame(
        [
            (0, "u", _ts(0)),  # exactly at first valid_from -> A
            (1, "u", _ts(5)),  # inside v1 -> A
            (2, "u", _ts(10)),  # exactly at the change instant -> NEW (B)
            (3, "u", _ts(99)),  # open interval reaches the horizon -> B
            (4, "w", _ts(5)),  # unknown key -> dropped (inner)
        ],
        "fact_id long, key string, ts timestamp",
    )
    out = {
        r["fact_id"]: r["attr"]
        for r in point_in_time_join(facts, hist, "ts", ["key"]).collect()
    }
    assert out == {0: "A", 1: "A", 2: "B", 3: "B"}
    # each fact matches exactly one version — no interval overlap
    assert point_in_time_join(facts, hist, "ts", ["key"]).count() == 4


def test_autocorr_planted_series(spark):
    import datetime as dtm

    from gapless_deribit_clickhouse_spark.features.timeseries import (
        autocorr_by_key,
    )

    def ts(s):
        return dtm.datetime(2024, 1, 1) + dtm.timedelta(seconds=s)

    rows = []
    # user 1: linear ramp -> lag-1 pairs are perfectly correlated
    for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0]):
        rows.append((1, ts(i), i, v))
    # user 2: constant series -> zero variance -> NULL (not NaN)
    for i in range(4):
        rows.append((2, ts(i), i, 7.0))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {
        r["user_id"]: r
        for r in autocorr_by_key(
            df, ["user_id"], ["ts", "event_id"], "value"
        ).collect()
    }
    assert got[1]["n_pairs"] == 4
    assert got[1]["autocorr"] == pytest.approx(1.0)
    assert got[2]["n_pairs"] == 3
    assert got[2]["autocorr"] is None


def test_autocorr_null_values_pairwise_deletion(spark):
    """ADVICE r6: with NULLs in value_col, all three moments (cov, s1,
    s2) must see the SAME pairs — pairwise deletion, matching the
    oracle corr's semantics — not per-column null handling."""
    import datetime as dtm

    import numpy as np

    from gapless_deribit_clickhouse_spark.features.timeseries import (
        autocorr_by_key,
    )

    def ts(s):
        return dtm.datetime(2024, 1, 1) + dtm.timedelta(seconds=s)

    vals = [1.0, 3.0, None, 2.0, 8.0, 5.0, None, 9.0, 4.0, 6.0]
    rows = [(1, ts(i), i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = autocorr_by_key(df, ["user_id"], ["ts", "event_id"], "value").collect()
    assert len(got) == 1

    # pairwise reference: (prev, cur) pairs where BOTH are non-null,
    # prev taken positionally (lag over the full ordered series,
    # including null slots) — exactly what the engine computes
    pairs = [
        (p, c)
        for p, c in zip(vals, vals[1:])
        if p is not None and c is not None
    ]
    prev = np.array([p for p, _ in pairs])
    cur = np.array([c for _, c in pairs])
    expect = float(np.corrcoef(cur, prev)[0, 1])
    assert got[0]["n_pairs"] == len(pairs)
    assert got[0]["autocorr"] == pytest.approx(expect, rel=1e-9)
