"""Seeded generator for the benchmark's options-trades inputs.

The table has the ``options_trades`` user columns (the partition column
``trade_month`` is derived by the writer) and these properties, each a
parameter so the generator's test can check it:

- BTC and ETH trades in a 2:1 ratio;
- timestamps over ``span_days`` days from ``START``, so the data
  crosses calendar-month (``trade_month``) partitions;
- days-to-expiry uniform over 0..120, so every DTE bucket and both
  term-structure legs are populated;
- a ``null_share`` of ``index_price`` values is null, so spot
  enrichment falls back to the spot table;
- a ``dup_fraction`` of rows are re-deliveries of an earlier trade
  (same ``trade_id``, a later timestamp and a revised price), so
  dedup-at-read and compaction have work;
- ``OUTAGES`` multi-hour holes per underlying, so gap analysis reports
  real gaps.

Everything is drawn from one ``numpy.random.default_rng(seed)``: the
same seed gives the same table, byte for byte.
"""

from __future__ import annotations

import hashlib
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

START = datetime(2024, 11, 12, tzinfo=timezone.utc)
DAY_MS = 86_400_000
SPOT_STEP_S = 900
UNDERLYINGS = ("BTC", "ETH")
SPOT_LEVEL = {"BTC": 95_000.0, "ETH": 3_400.0}
STRIKE_STEP = {"BTC": 1_000.0, "ETH": 50.0}
N_STRIKES = 41  # strikes span spot ±20 steps
MAX_DTE = 120
OUTAGES = 3
_MONTHS = ("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
           "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

def _start_ms() -> int:
    return int(START.timestamp() * 1000)


def _spot_path(rng: np.random.Generator, und: str, n_bars: int) -> np.ndarray:
    """Geometric random walk of 15-minute closes."""
    steps = rng.normal(0.0, 0.002, n_bars)
    return SPOT_LEVEL[und] * np.exp(np.cumsum(steps))


def _outage_mask(rng: np.random.Generator, ts_ms: np.ndarray, span_ms: int) -> np.ndarray:
    """True for timestamps inside one of OUTAGES holes of 2-6 hours,
    placed in disjoint slices of the span."""
    drop = np.zeros(len(ts_ms), dtype=bool)
    slice_ms = span_ms // OUTAGES
    for k in range(OUTAGES):
        length = int(rng.integers(2, 7)) * 3_600_000
        lo = k * slice_ms + int(rng.integers(DAY_MS, slice_ms - DAY_MS - length))
        drop |= (ts_ms >= lo) & (ts_ms < lo + length)
    return drop


def generate(
    seed: int,
    n_rows: int,
    span_days: int = 60,
    dup_fraction: float = 0.02,
    null_share: float = 0.05,
) -> tuple[pa.Table, pa.Table]:
    """Return ``(trades, spot)`` as Arrow tables.

    ``n_rows`` counts distinct trades; ``round(n_rows * dup_fraction)``
    re-deliveries are appended on top. ``spot`` holds one close per
    (symbol, 15-minute bar) over the span.
    """
    rng = np.random.default_rng(seed)
    span_ms = span_days * DAY_MS
    n_bars = span_ms // (SPOT_STEP_S * 1000)
    start_ms = _start_ms()
    start_day = START.date()

    trade_parts, spot_parts = [], []
    counts = {"BTC": n_rows - n_rows // 3, "ETH": n_rows // 3}
    for u_idx, und in enumerate(UNDERLYINGS):
        n = counts[und]
        closes = _spot_path(rng, und, n_bars)
        bar_ts = start_ms + np.arange(n_bars, dtype=np.int64) * SPOT_STEP_S * 1000
        spot_parts.append((f"{und}USDT", bar_ts, closes))

        # oversample, drop trades inside outages, keep n (time-ordered ids)
        ts = np.sort(rng.integers(0, span_ms, int(n * 1.2) + 1000, dtype=np.int64))
        ts = ts[~_outage_mask(rng, ts, span_ms)]
        ts = np.sort(rng.choice(ts, n, replace=False)) + start_ms
        bar = (ts - start_ms) // (SPOT_STEP_S * 1000)
        index_price = closes[bar] * (1.0 + rng.normal(0.0, 0.0005, n))
        index_null = rng.random(n) < null_share

        day = (ts - start_ms) // DAY_MS
        dte = rng.integers(0, MAX_DTE + 1, n)
        expiry_day = day + dte  # days since START
        atm = np.round(closes[bar] / STRIKE_STEP[und])
        strike = (atm + rng.integers(-(N_STRIKES // 2), N_STRIKES // 2 + 1, n)) * STRIKE_STEP[und]
        is_call = rng.random(n) < 0.6
        iv = np.round(0.35 + 0.5 * rng.random(n) + 0.1 * np.abs(strike / closes[bar] - 1.0), 6)
        price = np.round(0.0005 + 0.2 * rng.random(n), 6)
        amount = np.round(0.1 + rng.exponential(3.0, n), 1)
        buy = rng.random(n) < 0.5
        mark = np.round(price * (1.0 + rng.normal(0.0, 0.01, n)), 6)
        trade_parts.append(dict(
            und=und, u_idx=u_idx, ts=ts, index_price=index_price, index_null=index_null,
            expiry_day=expiry_day, strike=strike, is_call=is_call, iv=iv, price=price,
            amount=amount, buy=buy, mark=mark,
        ))

    cols = {k: np.concatenate([p[k] for p in trade_parts]) for k in (
        "ts", "index_price", "index_null", "expiry_day", "strike", "is_call", "iv",
        "price", "amount", "buy", "mark")}
    und_idx = np.concatenate([np.full(len(p["ts"]), p["u_idx"]) for p in trade_parts])
    n_total = len(cols["ts"])
    seq = pc.utf8_lpad(pc.cast(pa.array(np.arange(n_total)), pa.string()), 8, "0")
    ids = pc.binary_join_element_wise(
        pa.array([u[0] for u in UNDERLYINGS]).take(pa.array(und_idx)), seq, ""
    )

    # re-deliveries: copy a row, bump its timestamp by 1..999 ms, revise the price
    n_dup = int(round(n_rows * dup_fraction))
    src = rng.choice(n_total, n_dup, replace=False)
    bump = rng.integers(1, 1000, n_dup)
    new_price = np.round(cols["price"][src] * (1.0 + rng.normal(0.0, 0.02, n_dup)), 6)
    order = np.concatenate([np.arange(n_total), src])
    for k in cols:
        cols[k] = cols[k][order]
    cols["ts"][n_total:] += bump
    cols["price"][n_total:] = new_price
    take = pa.array(order)
    ids = ids.take(take)
    und_names = pa.array(UNDERLYINGS).take(pa.array(und_idx).take(take))
    expiry_dates = [start_day + timedelta(days=d) for d in range(int(cols["expiry_day"].max()) + 1)]
    expiry_tag = pa.array(
        [f"{d.day}{_MONTHS[d.month - 1]}{d.year % 100:02d}" for d in expiry_dates]
    ).take(pa.array(cols["expiry_day"]))
    opt = pa.array(["P", "C"]).take(pa.array(cols["is_call"].astype(np.int8)))
    strike_txt = pc.cast(pa.array(cols["strike"].astype(np.int64)), pa.string())
    instrument = pc.binary_join_element_wise(und_names, expiry_tag, strike_txt, opt, "-")

    epoch_day = (start_day - date(1970, 1, 1)).days
    trades = pa.table({
        "trade_id": ids,
        "instrument_name": instrument,
        "timestamp": pa.array(cols["ts"] * 1000, pa.timestamp("us", tz="UTC")),
        "price": pa.array(cols["price"], pa.float64()),
        "amount": pa.array(cols["amount"], pa.float64()),
        "direction": pa.array(["sell", "buy"]).take(pa.array(cols["buy"].astype(np.int8))),
        "iv": pa.array(cols["iv"], pa.float64()),
        "index_price": pa.array(np.round(cols["index_price"], 2), pa.float64(), mask=cols["index_null"]),
        "mark_price": pa.array(cols["mark"], pa.float64()),
        "underlying": und_names,
        "expiry": pa.array((cols["expiry_day"] + epoch_day).astype(np.int32), pa.date32()),
        "strike": pa.array(cols["strike"], pa.float64()),
        "option_type": opt,
    })
    spot = pa.table({
        "symbol": pa.array(np.concatenate([np.full(len(t), s, dtype=object) for s, t, _ in spot_parts]), pa.string()),
        "timestamp": pa.array(np.concatenate([t for _, t, _ in spot_parts]) * 1000, pa.timestamp("us", tz="UTC")),
        "close": pa.array(np.round(np.concatenate([c for _, _, c in spot_parts]), 2), pa.float64()),
    })
    return trades, spot


def fingerprint(table: pa.Table) -> str:
    """sha256 over the table's columns in Arrow IPC form."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def user_bytes(table: pa.Table) -> int:
    """Bytes of user data: 8 per number or timestamp, 4 per date, the
    UTF-8 length of each string; nulls count 0."""
    total = 0
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_string(col.type):
            lengths = pc.utf8_length(col)
            total += int(pc.sum(lengths).as_py() or 0)
        else:
            width = 4 if pa.types.is_date32(col.type) else 8
            total += width * (len(col) - col.null_count)
    return total
