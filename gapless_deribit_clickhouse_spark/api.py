"""Public query API: ``fetch_trades`` and capability probe.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/api.py``
(validation :29-64, timestamp normalization :67-97, predicates
:136-163, FINAL/ORDER/LIMIT :164-175) and ``probe.py:47-160``.

The SQL-template IR disappears: validation happens fail-fast in
Python, then the query is a DataFrame plan —
``table -> instrument filter -> [dedup] -> time filter -> orderBy desc
-> limit``. The instrument filter holds the predicates on columns that
every version of a trade shares (``dedup_invariant`` in
``schema/options_trades.yaml``), so it is exact below the ``trade_id``
window (``operators/dedup.py``): Catalyst pushes it into the parquet
scan, where ``underlying`` prunes partitions and the other predicates
reach the scan as data filters, and a FINAL point lookup windows only
the versions of the few trades on its instrument. The ``timestamp``
range stays above the window, because a later re-delivery (even one in
a later ``trade_month``, or after ``end``) must still evict the version
it replaces. So a FINAL query windows every row its instrument filter
keeps: the latest-N query windows its whole underlying. Only with
``use_final=False`` does the time range reach the scan too. No filter
names ``trade_month``, so a time range prunes no month partition.
"""

from __future__ import annotations

import math
import numbers
import re
from datetime import datetime, timedelta
from functools import cache
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.exceptions import QueryError
from gapless_deribit_clickhouse_spark.operators.dedup import dedup_latest

if TYPE_CHECKING:
    from gapless_deribit_clickhouse_spark.schema.loader import ColumnSpec, TableSchema


_ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")


@cache
def _schema() -> TableSchema:
    """The ``options_trades`` schema."""
    from gapless_deribit_clickhouse_spark.schema.loader import load_schema

    return load_schema("options_trades")


def _column(name: str) -> ColumnSpec:
    """A column spec of the ``options_trades`` schema."""
    return _schema().column(name)


def _validate_fetch_params(
    underlying: str | None,
    start: str | None,
    end: str | None,
    limit: int | None,
    option_type: str | None,
    expiry: str | None,
    strike: float | None,
) -> None:
    """Fail-fast parameter contract (reference api.py:29-64)."""
    if start is None and end is None and limit is None:
        raise QueryError("provide at least one of start, end, limit")
    for name, v in (("start", start), ("end", end)):
        if v is not None and (not isinstance(v, str) or not v.strip()):
            raise QueryError(f"{name} must be a non-empty string")
    if limit is not None and (
        not isinstance(limit, int) or isinstance(limit, bool) or limit <= 0
    ):
        raise QueryError(f"limit must be a positive integer, got {limit!r}")
    # the filter keeps start <= timestamp < end (a date-only end is the
    # next midnight), so reject exactly the ranges that hold no instant
    if start and end and _parse_ts(start) >= _parse_ts(end, end_side=True):
        raise QueryError("start must be before end")
    for name, v in (("underlying", underlying), ("option_type", option_type)):
        enum = _column(name).enum
        if v is not None and v not in enum:
            raise QueryError(f"{name} must be one of {enum}, got {v!r}")
    if expiry is not None and not _is_iso_date(expiry):
        raise QueryError(f"expiry must be a YYYY-MM-DD date, got {expiry!r}")
    lo = _column("strike").minimum
    if strike is not None and not (
        isinstance(strike, numbers.Real)
        and not isinstance(strike, bool)
        and math.isfinite(strike)
        and strike >= lo
    ):
        raise QueryError(f"strike must be a finite number >= {lo}, got {strike!r}")


def _is_iso_date(value: str) -> bool:
    """A real calendar day written ``YYYY-MM-DD`` (strptime alone also
    takes ``2024-1-5``)."""
    if not isinstance(value, str) or not _ISO_DATE.fullmatch(value):
        return False
    try:
        datetime.strptime(value, "%Y-%m-%d")
    except ValueError:
        return False
    return True


def _parse_ts(value: str, end_side: bool = False) -> datetime:
    """Timestamp normalization (reference api.py:67-97): a date-only
    ``end`` expands to next-day midnight so ``timestamp < end`` is
    day-inclusive; ms-precision strings pass through."""
    value = value.strip()
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(value, fmt)
            if fmt == "%Y-%m-%d" and end_side:
                dt += timedelta(days=1)
            return dt
        except ValueError:
            continue
    raise QueryError(f"unparseable timestamp {value!r}")


def fetch_trades(
    trades: DataFrame,
    underlying: str | None = None,
    start: str | None = None,
    end: str | None = None,
    option_type: str | None = None,
    expiry: str | None = None,
    strike: float | None = None,
    limit: int | None = None,
    use_final: bool = True,
) -> DataFrame:
    """Point/range query with the reference's exact predicate set
    (F1-F4, W5, O1). ``use_final`` toggles dedup-at-read (FINAL
    parity, reference api.py:121-124)."""
    _validate_fetch_params(underlying, start, end, limit, option_type, expiry, strike)
    preds = []  # (column, predicate), in the reference's order
    if underlying is not None:
        preds.append(("underlying", F.col("underlying") == underlying))
    if option_type is not None:
        preds.append(("option_type", F.col("option_type") == option_type))
    if expiry is not None:
        preds.append(("expiry", F.col("expiry") == F.lit(expiry).cast("date")))
    if strike is not None:
        preds.append(("strike", F.col("strike") == float(strike)))
    if start is not None:
        preds.append(("timestamp", F.col("timestamp") >= F.lit(_parse_ts(start))))
    if end is not None:
        preds.append(("timestamp", F.col("timestamp") < F.lit(_parse_ts(end, end_side=True))))
    # A predicate on a column that every version of a trade shares keeps
    # all of its versions or none, so it runs below the dedup window and
    # reaches the scan; a timestamp predicate must see only the winner.
    # Catalyst combines each run of filters into one Filter node.
    invariant = _schema().dedup_invariant
    below = [p for c, p in preds if c in invariant]
    above = [p for c, p in preds if c not in invariant]
    df = trades
    for p in below:
        df = df.filter(p)
    if use_final:
        df = dedup_latest(df, keys=["trade_id"], version_cols=["timestamp"])
    for p in above:
        df = df.filter(p)
    df = df.orderBy(F.col("timestamp").desc(), F.col("trade_id").desc())
    if limit is not None:
        df = df.limit(limit)
    return df


def describe() -> dict:
    """Capability probe (reference probe.py:47-160)."""
    from gapless_deribit_clickhouse_spark import __version__

    return {
        "engine": "gapless_deribit_clickhouse_spark",
        "version": __version__,
        "execution": "pyspark",
        "capabilities": {
            "query": ["fetch_trades", "dedup_at_read", "time_range", "top_k"],
            "features": [
                "resample_iv", "iv_percentile", "iv_rank", "pcr_by_tenor",
                "pcr_aggregate", "term_structure", "dte_bucket_agg",
                "dte_distribution", "aggregate_by_moneyness",
                "select_contracts", "enrich_with_spot", "greeks", "egarch",
            ],
            "validation": ["quality_metrics", "coverage_by_group", "gap_analysis"],
            "ingest": ["paginated_backfill", "structured_streaming"],
        },
        "data_sources": ["parquet", "parquet_stream"],
    }
