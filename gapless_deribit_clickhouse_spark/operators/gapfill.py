"""Time-series densification — ClickHouse ``ORDER BY ... WITH FILL``
parity, plus forward fill.

A resampled series has no row for an empty bucket; most downstream
consumers (charting, diffing, rolling math over row counts, the
"gapless" contract this engine is named for) need one row per grid
step. ``fill_time_gaps`` densifies a bucket-aligned series to the
regular grid between each key's first and last observation, flags the
inserted rows, and (optionally) forward-fills chosen value columns
from the last observation — ClickHouse's WITH FILL +
last-value-carried-forward in one operator.

Scale shape: a per-key bounds aggregation (metadata-sized output), a
``sequence``-explode scaffold (rows = grid size, the answer's own
size), one equi-join back on (keys, bucket), and one ordered window
per key for the forward fill. Grid size is (time range / step) per
key — the output's inherent cardinality, not overhead; a caller
densifying years of data at 1-second steps is asking for exactly that
many rows and should bucket coarser first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fill_time_gaps(
    df: DataFrame,
    ts_col: str,
    step_seconds: int,
    keys: list[str] | tuple[str, ...] = (),
    fill_cols: list[str] | tuple[str, ...] = (),
    interpolate_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Densify a bucket-aligned time series to its regular grid.

    ``df`` must hold at most one row per (keys, ``ts_col``) with
    ``ts_col`` already truncated to the grid (e.g. a resampler
    output). Emits one row per grid step from each key's min to max
    bucket: observed rows keep their values VERBATIM (``is_gap`` = 0;
    a legitimately-NULL observed value stays NULL — ClickHouse WITH
    FILL only populates the rows it inserts); inserted rows carry
    NULLs (``is_gap`` = 1) except ``fill_cols``, which are
    forward-filled from the most recent non-null observation (an
    inserted row before a key's first observation cannot exist —
    grids start AT the first observation), and ``interpolate_cols``,
    which are LINEARLY interpolated between the surrounding
    observations (ClickHouse ``WITH FILL ... INTERPOLATE`` with the
    lerp the charting/diffing consumers actually want; a column may
    appear in only one of the two lists).  Interpolation weights use
    exact-integer epoch microseconds; a gap row needs BOTH neighbors
    (grids end AT the last observation, so a one-sided gap cannot
    exist).  Cost: the backward anchors ride the same ascending
    (keys, ts) sort the forward fill already pays; the forward anchors
    ride ONE extra descending sort on the same per-key partitioning
    (mirror-sort running-last — incremental, O(n) per partition) — no
    extra shuffle either way."""
    if step_seconds < 1:
        raise ValueError("step_seconds must be >= 1")
    overlap = set(fill_cols) & set(interpolate_cols)
    if overlap:
        raise ValueError(
            f"columns in both fill_cols and interpolate_cols: {sorted(overlap)}"
        )
    keys = list(keys)
    bounds = df.groupBy(*keys).agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    scaffold = bounds.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("__lo"),
                F.col("__hi"),
                F.expr(f"INTERVAL {int(step_seconds)} SECOND"),
            )
        ).alias(ts_col),
    )
    marked = df.withColumn("__present", F.lit(1))
    out = scaffold.join(marked, [*keys, ts_col], "left").withColumn(
        "is_gap",
        F.when(F.col("__present").isNull(), F.lit(1)).otherwise(F.lit(0)),
    )
    if fill_cols or interpolate_cols:
        w_prev = (
            Window.partitionBy(*keys)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in fill_cols:
            # only INSERTED rows are populated — an observed row keeps
            # its value verbatim, including a legitimate NULL
            # (ClickHouse WITH FILL only fills the rows it inserts;
            # ADVICE r5). The carry source still skips observed NULLs
            # via ignorenulls, so a gap after a NULL bar carries the
            # last non-null observation.
            out = out.withColumn(
                c,
                F.when(F.col("is_gap") == 0, F.col(c)).otherwise(
                    F.last(c, ignorenulls=True).over(w_prev)
                ),
            )
        if interpolate_cols:
            # Forward anchors via the MIRRORED ordering: a trailing
            # running-last over DESCENDING time IS the next-observation
            # fill, and Spark evaluates trailing frames incrementally
            # (O(n) per partition). The leading (currentRow,
            # unboundedFollowing) first() form re-aggregates the
            # remainder of the partition for every row — quadratic in
            # partition size, and here the partition is the densified
            # per-key grid (event-scale). Same transform as
            # operators/asof.py _asof_nearest; same (keys) partitioning
            # as w_prev, so Catalyst plans one Exchange and two Sorts.
            w_next = (
                Window.partitionBy(*keys)
                .orderBy(F.col(ts_col).desc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            t = F.unix_micros(F.col(ts_col)).cast("double")
            for c in interpolate_cols:
                # time anchors are PER COLUMN and gated on the value
                # being non-null: an observed row with a NULL value
                # must not anchor the slope (a presence-based anchor
                # would pair t from that row with v from an earlier
                # one and bend the line)
                anchored = F.when(
                    F.col("__present").isNotNull() & F.col(c).isNotNull(), t
                )
                prev_t = F.last(anchored, ignorenulls=True).over(w_prev)
                next_t = F.last(anchored, ignorenulls=True).over(w_next)
                prev_v = F.last(c, ignorenulls=True).over(w_prev)
                next_v = F.last(c, ignorenulls=True).over(w_next)
                frac = (t - prev_t) / (next_t - prev_t)
                out = out.withColumn(
                    c,
                    F.when(F.col("is_gap") == 0, F.col(c)).otherwise(
                        prev_v + (next_v - prev_v) * frac
                    ),
                )
    return out.drop("__present")
