"""Resumable paginated batch ingestion (the reference's collector,
Spark-native).

Reference: ``/root/reference/src/gapless_deribit_clickhouse/collectors/
trades_collector.py`` —
- S1/S2 cursor pagination: pages of <=1000 trades walking BACKWARDS
  from end_ts (``current_end_ts = oldest_ts - 1``), :97-144, :290-321;
  here each page restarts AT ``oldest_ts`` instead, so no trade is
  lost where a page ends inside a millisecond
- S3 continuity validation: inter-page gap > threshold ms and
  duplicate trade_ids -> warnings, :58-94
- S4 row projection: API dict -> typed row + derived instrument
  fields, :183-208
- S5 idempotent batched sink: every 10k rows with a dedup token
  sha256(currency,start,end,batch)[:32]; replays rejected, :405-436
- S7 checkpoint: JSON {last_end_ts, batch_number, total_collected,
  pagination_warnings}; resume on identical job key, :158-180; here
  also ``last_end_ids``, the ids already written at ``last_end_ts``

Spark design: the network source is emulated by a deterministic
synthetic page generator (no internet in this environment; the page
protocol — count-limited, descending, cursor-driven — is identical).
The sink is a parquet staging area with one leaf per batch,
``batch_token=<token>/``, holding one data file. Each batch is written
with pyarrow to a hidden temp file in its leaf and renamed onto that
file, so no Spark job runs per batch. A replayed batch replaces its own
leaf's contents (idempotent, the Delta ``txnVersion`` pattern without
requiring Delta), never duplicating rows; landing and compaction read
the staging area with Spark.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _acceptable_types, _make_type_verifier

from gapless_deribit_clickhouse_spark.exceptions import SourceError

PAGE_SIZE = 1000  # reference trades_collector.py:43
BATCH_ROWS = 10_000  # reference trades_collector.py:55
GAP_THRESHOLD_MS = int(os.environ.get("PAGINATION_GAP_THRESHOLD_MS", "1000"))

TRADE_SCHEMA = T.StructType(
    [
        T.StructField("trade_id", T.StringType(), False),
        T.StructField("instrument_name", T.StringType(), False),
        T.StructField("timestamp", T.LongType(), False),  # epoch ms
        T.StructField("price", T.DoubleType(), False),
        T.StructField("amount", T.DoubleType(), False),
        T.StructField("direction", T.StringType(), False),
        T.StructField("iv", T.DoubleType(), True),
        T.StructField("index_price", T.DoubleType(), True),
    ]
)

# the staged layout: TRADE_SCHEMA with the epoch-ms ``timestamp`` stored
# as a UTC timestamp
_STAGED_ARROW = to_arrow_schema(
    T.StructType(
        [
            T.StructField(f.name, T.TimestampType(), f.nullable) if f.name == "timestamp" else f
            for f in TRADE_SCHEMA.fields
        ]
    )
)
# every batch_token=<token>/ leaf holds this one data file; the temp name
# starts with "." and does not end in ".parquet", so Spark and parquet
# globs skip a write that has not been renamed yet
BATCH_FILE = "part-0.parquet"
_BATCH_TMP = ".part-0.tmp"

# createDataFrame(rows, TRADE_SCHEMA)'s own input check (private in
# pyspark) and the exact Python types it accepts per field
_verify_trade = _make_type_verifier(TRADE_SCHEMA)
_ACCEPTED_TYPES = {
    f.name: set(_acceptable_types[type(f.dataType)]) | ({type(None)} if f.nullable else set())
    for f in TRADE_SCHEMA.fields
}


class SyntheticTradePages:
    """Deterministic stand-in for the paginated REST source: trades on
    a fixed grid (one every ``step_ms``), newest-first pages."""

    def __init__(self, currency: str = "BTC", step_ms: int = 1000, seed: int = 42):
        self.currency = currency
        self.step_ms = step_ms
        self.seed = seed

    def _trade_at(self, ts_ms: int) -> dict:
        h = int(hashlib.md5(f"{self.seed}:{ts_ms}".encode()).hexdigest()[:8], 16)
        strike = (90 + h % 21) * 1000
        return {
            "trade_id": f"{self.currency}-{ts_ms}",
            "instrument_name": f"{self.currency}-27DEC24-{strike}-{'C' if h % 3 else 'P'}",
            "timestamp": ts_ms,
            "price": 0.01 + (h % 1000) / 10000.0,
            "amount": 0.1 + (h % 50) / 10.0,
            "direction": "buy" if h % 2 == 0 else "sell",
            "iv": 0.4 + (h % 100) / 250.0,
            "index_price": 100000.0 + (h % 4000) - 2000.0,
        }

    def fetch_page(self, start_ts: int, end_ts: int, count: int = PAGE_SIZE) -> list[dict]:
        """Trades in [start_ts, end_ts], newest first, at most count."""
        newest = (end_ts // self.step_ms) * self.step_ms
        out = []
        ts = newest
        while ts >= start_ts and len(out) < count:
            out.append(self._trade_at(ts))
            ts -= self.step_ms
        return out


def validate_page_continuity(
    prev_page: list[dict], curr_page: list[dict], gap_threshold_ms: int = GAP_THRESHOLD_MS
) -> tuple[bool, list[str]]:
    """Inter-page gap + duplicate checks (reference
    trades_collector.py:58-94): pages are newest-first; the boundary
    gap is prev page's OLDEST ts minus curr page's NEWEST ts.

    Each page restarts at the previous page's oldest millisecond, so
    the trades ``curr_page`` lists again there are a refetch: they are
    left out of both checks."""
    if not prev_page:
        return True, []
    warnings: list[str] = []
    prev_oldest = min(t["timestamp"] for t in prev_page)
    refetched = {t["trade_id"] for t in prev_page if t["timestamp"] == prev_oldest}
    curr_page = [t for t in curr_page if t["timestamp"] != prev_oldest or t["trade_id"] not in refetched]
    if not curr_page:
        return True, []
    curr_newest = max(t["timestamp"] for t in curr_page)
    gap = prev_oldest - curr_newest
    if gap > gap_threshold_ms:
        warnings.append(f"pagination gap {gap}ms exceeds threshold {gap_threshold_ms}ms")
    dups = {t["trade_id"] for t in prev_page} & {t["trade_id"] for t in curr_page}
    if dups:
        warnings.append(f"{len(dups)} duplicate trade_ids across page boundary")
    return not warnings, warnings


def batch_token(currency: str, start_ts: int, end_ts: int, batch_number: int) -> str:
    """Idempotency token (reference trades_collector.py:147-155)."""
    key = f"{currency}:{start_ts}:{end_ts}:{batch_number}"
    return hashlib.sha256(key.encode()).hexdigest()[:32]


@dataclass
class CheckpointStore:
    """JSON-file checkpoint (reference trades_collector.py:158-180)."""

    directory: str

    def _path(self, currency: str, start_ts: int, end_ts: int) -> str:
        key = hashlib.sha256(f"{currency}:{start_ts}:{end_ts}".encode()).hexdigest()[:16]
        return os.path.join(self.directory, f"checkpoint_{key}.json")

    def load(self, currency: str, start_ts: int, end_ts: int) -> dict | None:
        path = self._path(currency, start_ts, end_ts)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def save(self, currency: str, start_ts: int, end_ts: int, state: dict) -> None:
        """Write to a temp file and rename it onto the checkpoint, so a
        crash mid-write leaves the previous checkpoint loadable."""
        os.makedirs(self.directory, exist_ok=True)
        state = dict(state, updated_at=datetime.now(timezone.utc).isoformat())
        path = self._path(currency, start_ts, end_ts)
        with open(path + ".tmp", "w") as f:
            json.dump(state, f)
        os.replace(path + ".tmp", path)

    def clear(self, currency: str, start_ts: int, end_ts: int) -> None:
        path = self._path(currency, start_ts, end_ts)
        if os.path.exists(path):
            os.remove(path)


def _trade_table(rows: list[dict]) -> pa.Table:
    """``rows`` as an Arrow table in the staged layout.

    Rejects exactly what ``spark.createDataFrame(rows, TRADE_SCHEMA)``
    rejects, with the same error. pyarrow alone would store a null in a
    non-nullable field and truncate 1.5 to 1 in a long field, so each
    column's Python types are checked first; on a mismatch pyspark's
    own verifier runs over the rows and raises createDataFrame's error.
    """
    arrays = []
    for f in _STAGED_ARROW:
        values = [r.get(f.name) for r in rows]
        if not set(map(type, values)) <= _ACCEPTED_TYPES[f.name]:
            for r in rows:
                _verify_trade(r)
            # only a string field passes the verifier here: it accepts
            # any non-null value there, stored as its string form
            values = [v if v is None or type(v) is str else str(v) for v in values]
        if f.name == "timestamp":
            ms = pa.array(values, pa.int64()).cast(pa.timestamp("ms", tz="UTC"))
            arrays.append(ms.cast(f.type))
        else:
            arrays.append(pa.array(values, f.type))
    return pa.Table.from_arrays(arrays, schema=_STAGED_ARROW)


def _write_batch(spark: SparkSession, rows: list[dict], token: str, output_path: str) -> None:
    """Idempotent write: batch ``token`` owns the leaf
    ``batch_token=<token>/`` and its one data file :data:`BATCH_FILE`.

    The rows go through pyarrow into a hidden temp file in the leaf,
    which is renamed onto :data:`BATCH_FILE`; then every other file in
    the leaf is removed. A replay thus replaces the leaf's contents (no
    duplicates), and a crash before the rename leaves readers seeing
    the leaf as it was. No Spark job runs: ``spark`` is unused.
    """
    table = _trade_table(rows)
    leaf = os.path.join(output_path, f"batch_token={token}")
    os.makedirs(leaf, exist_ok=True)
    tmp = os.path.join(leaf, _BATCH_TMP)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(leaf, BATCH_FILE))
    for name in os.listdir(leaf):
        if name != BATCH_FILE:
            os.remove(os.path.join(leaf, name))


def _frontier(ts: int, ids: set[str], rows: list[dict]) -> tuple[int, set[str]]:
    """The (millisecond, trade_ids taken there) a backward walk stands
    at after taking ``rows``, when it stood at (``ts``, ``ids``): the
    rows' oldest millisecond and the ids taken at it so far."""
    oldest = min(t["timestamp"] for t in rows)
    at = {t["trade_id"] for t in rows if t["timestamp"] == oldest}
    return oldest, (ids | at if oldest == ts else at)


def collect_trades(
    spark: SparkSession,
    source: SyntheticTradePages,
    start_ts: int,
    end_ts: int,
    output_path: str,
    checkpoint_dir: str | None = None,
    batch_rows: int = BATCH_ROWS,
    page_size: int = PAGE_SIZE,
    max_pages: int | None = None,
) -> dict:
    """Cursor-paginated backfill with continuity validation, batched
    idempotent writes and resumable checkpoints. Returns a stats dict
    (reference collect_trades(return_data=False) shape,
    trades_collector.py:371-384).

    Each page restarts at the previous page's oldest millisecond and
    drops the trade_ids already taken there. A page that adds no trade
    ends the walk, or, if it is full, means one millisecond holds more
    trades than a page: that raises :class:`SourceError`. The
    checkpoint holds the same (millisecond, trade_ids) frontier for the
    written rows, so a resume lands every trade once."""
    for name, size in (("batch_rows", batch_rows), ("page_size", page_size)):
        if size < 1:
            raise ValueError(f"{name} must be >= 1, got {size}")
    ckpt = CheckpointStore(checkpoint_dir) if checkpoint_dir else None
    state = ckpt.load(source.currency, start_ts, end_ts) if ckpt else None
    cursor = state["last_end_ts"] if state else end_ts
    seen = set(state["last_end_ids"]) if state else set()
    written = cursor, seen
    batch_number = state["batch_number"] if state else 0
    total = state["total_collected"] if state else 0
    warnings: list[str] = state["pagination_warnings"] if state else []

    buffer: list[dict] = []
    prev_page: list[dict] = []
    pages = 0
    while cursor >= start_ts:
        page = source.fetch_page(start_ts, cursor, page_size)
        pages += 1
        new = [t for t in page if t["trade_id"] not in seen]
        if not new:
            if len(page) < page_size:
                break
            raise SourceError(
                f"{len(page)} trades at {cursor} ms fill a page of {page_size}: cannot page past them"
            )
        ok, w = validate_page_continuity(prev_page, page)
        if not ok:
            warnings.extend(w)
        buffer.extend(new)
        cursor, seen = _frontier(cursor, seen, new)
        prev_page = page
        while len(buffer) >= batch_rows:
            chunk, buffer = buffer[:batch_rows], buffer[batch_rows:]
            token = batch_token(source.currency, start_ts, end_ts, batch_number)
            _write_batch(spark, chunk, token, output_path)
            total += len(chunk)
            batch_number += 1
            written = _frontier(*written, chunk)
            if ckpt:
                # resume at the oldest WRITTEN millisecond, skipping the
                # ids written there: rows still in the buffer are
                # refetched after a crash, never lost or duplicated
                ckpt.save(
                    source.currency,
                    start_ts,
                    end_ts,
                    {
                        "last_end_ts": written[0],
                        "last_end_ids": sorted(written[1]),
                        "batch_number": batch_number,
                        "total_collected": total,
                        "pagination_warnings": warnings[-100:],
                    },
                )
        if max_pages is not None and pages >= max_pages:
            raise SourceError(f"interrupted after {pages} pages (simulated failure)")
    if buffer:
        token = batch_token(source.currency, start_ts, end_ts, batch_number)
        _write_batch(spark, buffer, token, output_path)
        total += len(buffer)
        batch_number += 1
    if ckpt:
        ckpt.clear(source.currency, start_ts, end_ts)
    return {
        "total_collected": total,
        "batches_written": batch_number,
        "pages_fetched": pages,
        "pagination_warnings": warnings,
    }
