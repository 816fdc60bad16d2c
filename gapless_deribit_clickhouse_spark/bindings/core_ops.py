"""Core engine operators bound to testdata (scan/filter/sort/limit,
dedup-at-read, OHLC resample and WITH FILL, argMin top-1-per-group,
pagination, fixed-bin histogram).

Reference parity notes per binding are in each function's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.operators.dedup import dedup_latest
from gapless_deribit_clickhouse_spark.operators.resample import ohlc_resample
from gapless_deribit_clickhouse_spark.operators.topk import ordered_limit, top1_per_group

# DuckDB-exact 15-minute bucket (naive UTC timestamp); Spark side is
# functions.timeutils.time_bucket.
_BUCKET_SQL = "epoch_ms(((floor(epoch({ts}))::BIGINT // {step}) * {step}) * 1000)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- S9/F1-F4/O1: scan + predicate + DESC order + limit (fetch_trades path) ---
def scan_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fetch_trades``-style point/range scan: equality + time-range
    predicates pushed to the parquet scan, ORDER BY ts DESC LIMIT n
    compiled to TakeOrderedAndProject (reference: api.py:100-182)."""
    df = _events(spark, sf_dir)
    df = df.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-25 00:00:00"))
        & (F.col("event_type") != "error")
    )
    return ordered_limit(df, [F.col("ts").desc(), F.col("event_id").desc()], 100)


SCAN_TOPN_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-25 00:00:00'
  AND event_type <> 'error'
ORDER BY ts DESC, event_id DESC
LIMIT 100
"""


# --- W5: ReplacingMergeTree FINAL dedup-at-read ---
def dedup_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the latest row per (user_id, event_type) — deterministic
    FINAL semantics (reference: api.py:167-171, options_trades.yaml:26)."""
    return dedup_latest(_events(spark, sf_dir), keys=["user_id", "event_type"], version_cols=["ts"])


DEDUP_LATEST_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type
    ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST,
             value DESC NULLS LAST, props DESC NULLS LAST) AS rn
  FROM events) t
WHERE rn = 1
"""


# --- A5: OHLC resample to a 15-min grid ---
def ohlc_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular events -> deterministic 15-min OHLC bars per event_type
    (reference: features/resampler.py:74-111; min_by/max_by for
    order-stable open/close per SURVEY §7.3.2)."""
    return ohlc_resample(
        _events(spark, sf_dir),
        ts_col="ts",
        value_col="value",
        volume_col="value",
        step_seconds=900,
        keys=["event_type"],
        tiebreak_col="event_id",
    )


OHLC_15M_SQL = f"""
WITH base AS (
  SELECT event_type, {_BUCKET_SQL.format(ts="ts", step=900)} AS bucket_ts,
         ts, event_id, value
  FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM base)
SELECT bucket_ts, event_type,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       sum(value) AS volume,
       count(value) AS n_obs
FROM ranked
GROUP BY bucket_ts, event_type
"""


# --- A1: argMin top-1-per-group (front-month selection shape) ---
def top1_min_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row argMin per (event_type, day) via min_by(struct) — the
    reference's argMin(tuple(...), dte) pattern
    (contract_selector.py:34-62), deterministic via event_id tiebreak."""
    # day kept as timestamp (not date): Spark DateType surfaces as
    # python date objects while DuckDB DATE surfaces as datetime64 —
    # casting both sides to timestamp removes the representation skew.
    df = _events(spark, sf_dir).withColumn("day", F.to_date("ts").cast("timestamp"))
    return top1_per_group(
        df,
        group_cols=["event_type", "day"],
        order_col=F.struct(F.col("value"), F.col("event_id")),
        payload_cols=["event_id", "ts", "user_id", "value"],
    )


TOP1_MIN_VALUE_SQL = """
SELECT event_type, day, event_id, ts, user_id, value
FROM (
  SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_id, ts, user_id, value,
         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY value, event_id) AS rn
  FROM events) t
WHERE rn = 1
"""


# --- WITH FILL parity: densified, forward-filled OHLC ---
def ohlc_15m_gapless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's namesake contract: the 15-min OHLC series
    densified to its full per-key grid (ClickHouse ORDER BY ... WITH
    FILL) with the close forward-filled across empty buckets and the
    inserted rows flagged."""
    from gapless_deribit_clickhouse_spark.operators.gapfill import (
        fill_time_gaps,
    )

    bars = ohlc_15m(spark, sf_dir)
    return fill_time_gaps(
        bars,
        ts_col="bucket_ts",
        step_seconds=900,
        keys=["event_type"],
        fill_cols=["close"],
    ).select("event_type", "bucket_ts", "close", "is_gap")


OHLC_GAPLESS_SQL = f"""
WITH ohlc AS (SELECT * FROM ({OHLC_15M_SQL})),
bounds AS (
  SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM ohlc GROUP BY event_type),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket_ts
  FROM bounds),
j AS (
  SELECT g.event_type, g.bucket_ts, o.close,
         CASE WHEN o.bucket_ts IS NULL THEN 1 ELSE 0 END AS is_gap
  FROM grid g LEFT JOIN ohlc o
    ON o.event_type = g.event_type AND o.bucket_ts = g.bucket_ts)
SELECT event_type, bucket_ts,
       -- only inserted rows are filled; an observed NULL stays NULL
       -- (mirrors gapfill.py's WITH FILL parity rule — ADVICE r5)
       CASE WHEN is_gap = 0 THEN close
            ELSE last_value(close IGNORE NULLS) OVER (
              PARTITION BY event_type ORDER BY bucket_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       END AS close,
       is_gap
FROM j
"""


def ohlc_gapless_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH FILL ... INTERPOLATE parity: the same densified grid with
    the close LINEARLY interpolated between the surrounding observed
    bars instead of stepped forward — the variant charting and
    diff-based consumers want.  Same plan as the forward-fill shape
    plus one mirrored window (both ride the (key, ts) sort already
    paid); interpolation weights are exact-integer epoch micros cast
    to double, shared with the oracle."""
    from gapless_deribit_clickhouse_spark.operators.gapfill import (
        fill_time_gaps,
    )

    bars = ohlc_15m(spark, sf_dir)
    return fill_time_gaps(
        bars,
        ts_col="bucket_ts",
        step_seconds=900,
        keys=["event_type"],
        interpolate_cols=["close"],
    ).select("event_type", "bucket_ts", "close", "is_gap")


OHLC_GAPLESS_INTERP_SQL = f"""
WITH ohlc AS (SELECT * FROM ({OHLC_15M_SQL})),
bounds AS (
  SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM ohlc GROUP BY event_type),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket_ts
  FROM bounds),
j AS (
  SELECT g.event_type, g.bucket_ts, o.close,
         CASE WHEN o.bucket_ts IS NULL THEN 1 ELSE 0 END AS is_gap,
         -- anchor gate mirrors gapfill.py: presence AND value
         -- non-null (a NULL-valued observed bar must not anchor the
         -- slope timestamps either — ADVICE r5)
         CASE WHEN o.bucket_ts IS NOT NULL AND o.close IS NOT NULL
              THEN CAST(epoch_us(g.bucket_ts) AS DOUBLE) END AS obs_t
  FROM grid g LEFT JOIN ohlc o
    ON o.event_type = g.event_type AND o.bucket_ts = g.bucket_ts),
wv AS (
  SELECT *,
         CAST(epoch_us(bucket_ts) AS DOUBLE) AS t,
         last_value(close IGNORE NULLS) OVER wp AS prev_v,
         first_value(close IGNORE NULLS) OVER wn AS next_v,
         last_value(obs_t IGNORE NULLS) OVER wp AS prev_t,
         first_value(obs_t IGNORE NULLS) OVER wn AS next_t
  FROM j
  WINDOW wp AS (PARTITION BY event_type ORDER BY bucket_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY event_type ORDER BY bucket_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, bucket_ts,
       -- parenthesized to Spark's evaluation order, a * (b / c):
       -- (a*b)/c rounds differently by ~1 ulp, which the compare's
       -- 6dp rounding amplifies at exact-half boundaries
       CASE WHEN is_gap = 0 THEN close
            ELSE prev_v + (next_v - prev_v) * ((t - prev_t) / (next_t - prev_t))
       END AS close,
       is_gap
FROM wv
"""


def scan_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second page of the fetch_trades scan — ORDER BY ts DESC
    LIMIT 100 OFFSET 100 (the reference pages its trade fetches;
    this is the query-side pagination shape).  Spark compiles
    offset+limit over a sort into a single CollectLimit(offset, n)
    over per-partition top-(m+n) heaps: each partition forwards at
    most offset+limit rows and the driver drops the first offset —
    still no global sort, the same scale story as
    TakeOrderedAndProject (deep pagination pays m+n per partition,
    which is why real cursors should keyset-paginate on (ts,
    event_id) instead; this binding documents the tradeoff)."""
    df = _events(spark, sf_dir)
    df = df.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-25 00:00:00"))
        & (F.col("event_type") != "error")
    )
    return (
        df.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .offset(100)
        .limit(100)
    )


SCAN_PAGE2_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-25 00:00:00'
  AND event_type <> 'error'
ORDER BY ts DESC, event_id DESC
LIMIT 100 OFFSET 100
"""


def scan_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination — the scale-safe alternative that
    ``scan_page2``'s docstring promises: instead of OFFSET (every
    partition forwards offset+limit rows, so page N costs O(N)), the
    client passes the last row of the previous page and the predicate
    ``(ts, event_id) < (:last_ts, :last_id)`` (DESC order) selects
    strictly-older rows.  The tuple comparison decomposes into
    ``ts < c OR (ts = c AND event_id < id)``; the ``ts <= c`` bound is
    ALSO emitted standalone so it reaches the parquet scan as a
    pushed filter (row-group min/max pruning on the sort column —
    the OR-form alone defeats pushdown).  Every page is then a
    constant-cost TakeOrderedAndProject over the pruned byte range:
    page 1000 reads the same bytes as page 2.

    The cursor below is the true last row of ``scan_page2``'s page 1
    (computed by the oracle's own semantics), so this binding's rows
    are IDENTICAL to ``scan_page2``'s — the equivalence the driver's
    hash compare certifies.

    Reference parity: ``/root/reference/src/gapless_deribit_clickhouse/
    api.py:100-182`` pages trade fetches by shifting the time bound of
    each subsequent request — exactly this cursor shape."""
    # page-1-last cursor for the sf-independent filter window: the
    # 100th row of the same ORDER BY over sf0.01 *and* any superset
    # slice is data-dependent, so derive it in-plan from the same
    # query instead of hard-coding a value that drifts across sf.
    df = _events(spark, sf_dir)
    df = df.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-25 00:00:00"))
        & (F.col("event_type") != "error")
    )
    cursor = (
        df.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
        .agg(
            F.min_by(F.struct("ts", "event_id"), F.struct("ts", "event_id"))
            .alias("c")
        )
        .select(F.col("c.ts").alias("c_ts"), F.col("c.event_id").alias("c_id"))
    )
    # broadcast the 1-row cursor into the plan (no driver round-trip);
    # the standalone ts <= c_ts conjunct is the pushdown-friendly
    # bound, the OR-tuple refines it exactly
    page2 = (
        df.join(F.broadcast(cursor))
        .filter(
            (F.col("ts") <= F.col("c_ts"))
            & (
                (F.col("ts") < F.col("c_ts"))
                | ((F.col("ts") == F.col("c_ts")) & (F.col("event_id") < F.col("c_id")))
            )
        )
        .drop("c_ts", "c_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
    )
    return page2


SCAN_KEYSET_SQL = """
WITH page1 AS (
  SELECT ts, event_id
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
    AND ts <  TIMESTAMP '2024-01-25 00:00:00'
    AND event_type <> 'error'
  ORDER BY ts DESC, event_id DESC
  LIMIT 100),
cursor AS (
  SELECT ts AS c_ts, event_id AS c_id
  FROM page1 ORDER BY ts ASC, event_id ASC LIMIT 1)
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props
FROM events e, cursor c
WHERE e.ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND e.ts <  TIMESTAMP '2024-01-25 00:00:00'
  AND e.event_type <> 'error'
  AND e.ts <= c.c_ts
  AND (e.ts < c.c_ts OR (e.ts = c.c_ts AND e.event_id < c.c_id))
ORDER BY e.ts DESC, e.event_id DESC
LIMIT 100
"""


# --- fixed-bin histogram (two-phase global stat + bucket) ---
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bin histogram of the value column with data-derived bounds:
    the 1-row min/max aggregate broadcasts into the plan (no driver
    round-trip) and the bin index is shared double arithmetic, so the
    oracle reproduces bucket membership bit-for-bit. The ClickHouse
    histogram() shape with deterministic fixed bins instead of the
    adaptive (order-dependent) centroids."""
    n_bins = 32
    ev = _events(spark, sf_dir).select("value").filter(F.col("value").isNotNull())
    stats = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    # nullif guards the degenerate all-equal corpus: a zero span must
    # yield NULL bins on BOTH engines (DuckDB's IEEE double division
    # would produce inf and then error on the INT cast; Spark non-ANSI
    # would NULL silently — ADVICE r5)
    width = F.nullif(F.col("vmax") - F.col("vmin"), F.lit(0.0)) / F.lit(
        float(n_bins)
    )
    bin_ = F.least(
        F.floor((F.col("value") - F.col("vmin")) / width).cast("int"),
        F.lit(n_bins - 1),
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .select(
            bin_.alias("bin"),
            (F.col("vmin") + bin_ * width).alias("bin_lo"),
            (F.col("vmin") + (bin_ + 1) * width).alias("bin_hi"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.min("bin_lo").alias("bin_lo"),
            F.min("bin_hi").alias("bin_hi"),
        )
    )


VALUE_HISTOGRAM_SQL = """
WITH s AS (
  SELECT min(value) AS vmin, max(value) AS vmax
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT LEAST(CAST(floor((value - vmin) / (nullif(vmax - vmin, 0) / 32.0)) AS INT), 31) AS bin,
         vmin, vmax
  FROM events, s WHERE value IS NOT NULL)
SELECT bin, count(*) AS n_obs,
       -- bin * (span/32), matching Spark's bin_*width evaluation
       -- order: (bin*span)/32 rounds ~1 ulp differently (ADVICE r5)
       min(vmin + bin * (nullif(vmax - vmin, 0) / 32.0)) AS bin_lo,
       min(vmin + (bin + 1) * (nullif(vmax - vmin, 0) / 32.0)) AS bin_hi
FROM b GROUP BY bin
"""


BINDINGS = [
    ("scan_topn", scan_topn, SCAN_TOPN_SQL),
    ("dedup_latest", dedup_latest_events, DEDUP_LATEST_SQL),
    ("ohlc_15m", ohlc_15m, OHLC_15M_SQL),
    ("top1_min_value", top1_min_value, TOP1_MIN_VALUE_SQL),
    ("ohlc_15m_gapless", ohlc_15m_gapless, OHLC_GAPLESS_SQL),
    ("value_histogram", value_histogram, VALUE_HISTOGRAM_SQL),
    ("ohlc_gapless_interp", ohlc_gapless_interp, OHLC_GAPLESS_INTERP_SQL),
    ("scan_page2", scan_page2, SCAN_PAGE2_SQL),
    ("scan_keyset", scan_keyset, SCAN_KEYSET_SQL),
]
