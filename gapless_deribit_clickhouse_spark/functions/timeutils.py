"""Time-bucket and calendar helpers.

The reference truncates everywhere with ClickHouse
``toStartOfFifteenMinutes`` (SURVEY §2.5 W4) and derives DTE
(days-to-expiry) as ``dateDiff('day', toDate(ts), expiry)``
(``features/contract_selector.py:54``). Spark-side we express the
truncation as pure epoch arithmetic — ``floor(unix/step)*step`` — which
is a single codegen'd expression, works for ANY step (15 min, 30 min,
1 h, 1 d), is monotone (so Parquet min/max row-group pruning on the
raw timestamp still applies to bucket predicates), and has an exact
ANSI-SQL equivalent for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def time_bucket(ts: Column, step_seconds: int = 900) -> Column:
    """Floor ``ts`` to a ``step_seconds`` grid; returns a timestamp.

    Equivalent oracle SQL (DuckDB):
    ``to_timestamp(floor(epoch(ts) / step) * step)`` — or for 900s,
    ``time_bucket(INTERVAL '15 minutes', ts)``.
    """
    epoch = ts.cast("long")
    return F.from_unixtime((epoch / step_seconds).cast("long") * step_seconds).cast("timestamp")


def dte_days(ts: Column, expiry: Column) -> Column:
    """Days-to-expiry: calendar-day difference, time-of-day ignored."""
    return F.datediff(expiry, F.to_date(ts))
