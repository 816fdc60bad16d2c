"""Tests for the benchmark's seeded trades generator.

Run from the repository root: ``python3 -m pytest perfbench/test_gen.py``.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pyarrow.compute as pc

import gen

N = 30_000
SPAN_DAYS = 60


def _dte(trades) -> np.ndarray:
    days = pc.cast(pc.cast(trades["timestamp"], "date32"), "int32").to_numpy()
    return pc.cast(trades["expiry"], "int32").to_numpy() - days


def test_same_seed_same_fingerprint():
    a, spot_a = gen.generate(7, N)
    b, spot_b = gen.generate(7, N)
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(spot_a) == gen.fingerprint(spot_b)
    c, _ = gen.generate(8, N)
    assert gen.fingerprint(c) != gen.fingerprint(a)


def test_duplicate_fraction():
    trades, _ = gen.generate(3, N, dup_fraction=0.02)
    distinct = len(pc.unique(trades["trade_id"]))
    assert distinct == N
    assert trades.num_rows - distinct == round(N * 0.02)


def test_redelivery_is_later_version():
    trades, _ = gen.generate(3, N)
    ids = trades["trade_id"].to_pylist()
    ts = trades["timestamp"].to_pylist()
    first = {}
    for i, t in zip(ids, ts):
        if i in first:
            assert timedelta(0) < t - first[i] < timedelta(seconds=1)
        else:
            first[i] = t


def test_null_share():
    trades, _ = gen.generate(4, N, null_share=0.05)
    share = trades["index_price"].null_count / trades.num_rows
    assert abs(share - 0.05) < 0.01  # about 7 standard deviations at N
    assert trades["iv"].null_count == 0


def test_month_partitions():
    trades, _ = gen.generate(5, N, span_days=SPAN_DAYS)
    months = set(pc.strftime(trades["timestamp"], "%Y%m").to_pylist())
    last = gen.START + timedelta(days=SPAN_DAYS)
    expected = {f"{y}{m:02d}" for y in range(gen.START.year, last.year + 1) for m in range(1, 13)
                if (gen.START.year, gen.START.month) <= (y, m) <= (last.year, last.month)}
    assert months == expected
    assert len(months) >= 2


def test_underlying_skew():
    trades, _ = gen.generate(6, N, dup_fraction=0.0)
    counts = dict(zip(*[c.to_pylist() for c in pc.value_counts(trades["underlying"]).flatten()]))
    assert counts == {"BTC": N - N // 3, "ETH": N // 3}


def test_dte_populates_every_bucket():
    trades, _ = gen.generate(9, N, dup_fraction=0.0)
    dte = _dte(trades)
    assert dte.min() == 0 and dte.max() == gen.MAX_DTE
    for lo, hi in ((0, 7), (8, 14), (15, 30), (31, 60), (61, 90), (91, gen.MAX_DTE)):
        assert ((dte >= lo) & (dte <= hi)).any(), (lo, hi)


def test_spot_covers_every_trade_bar():
    trades, spot = gen.generate(10, N)
    bars = set(zip(spot["symbol"].to_pylist(), spot["timestamp"].to_pylist()))
    step = timedelta(seconds=gen.SPOT_STEP_S)
    for und, t in zip(trades["underlying"].to_pylist()[:500], trades["timestamp"].to_pylist()[:500]):
        bar = gen.START + ((t - gen.START) // step) * step
        assert (f"{und}USDT", bar) in bars
