"""Independent DuckDB oracle for the benchmark's outputs.

Every check reads the same parquet files the program wrote or read and
recomputes the expected result in DuckDB SQL written here from the
documented semantics (ReplacingMergeTree FINAL, the feature formulas,
the collector's idempotence); none of it calls the package's code. Only
the tuning parameters (DTE buckets, moneyness thresholds, ATM width,
liquidity floor, risk-free rate) are read from the package's default
``FeatureConfig``, so a legitimate change of a default is not flagged.

Checks run outside the timed sections.
"""

from __future__ import annotations

import math
from datetime import date, datetime, timezone
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

REL_TOL = 1e-9
ABS_TOL = 1e-9
SUM_REL_TOL = 1e-6  # sums over ~1e5 terms in another order and precision

TRADE_COLS = (
    "trade_id", "instrument_name", "timestamp", "price", "amount", "direction", "iv",
    "index_price", "mark_price", "underlying", "expiry", "strike", "option_type",
)


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {int(threads)}")
    con.execute(
        "CREATE MACRO bucket(ts, step) AS "
        "make_timestamp(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / (step * 1000000)) AS BIGINT) * step * 1000000)"
    )
    con.execute("CREATE MACRO dte(ts, expiry) AS date_diff('day', CAST(ts AS DATE), CAST(expiry AS DATE))")
    con.execute("CREATE MACRO npdf(x) AS 0.3989422804014327 * exp(-(x * x) / 2.0)")
    # Abramowitz-Stegun 26.2.17, the approximation the Greeks are specified with
    con.execute(
        "CREATE MACRO as_poly(k) AS "
        "((((1.330274429 * k - 1.821255978) * k + 1.781477937) * k - 0.356563782) * k + 0.319381530) * k"
    )
    con.execute(
        "CREATE MACRO ncdf(x) AS CASE WHEN x >= 0 "
        "THEN 1.0 - npdf(x) * as_poly(1.0 / (1.0 + 0.2316419 * x)) "
        "ELSE npdf(-x) * as_poly(1.0 / (1.0 - 0.2316419 * x)) END"
    )
    return con


def parquet_glob(table_dir: Path, depth: int) -> str:
    return str(table_dir / "/".join(["*"] * depth)) + ".parquet"


# --- result comparison --------------------------------------------------------


def _plain(v):
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return round(v.timestamp() * 1e6)
    return v


def rows(table: pa.Table, cols: tuple[str, ...]) -> list[tuple]:
    """Rows of ``cols`` as tuples; timestamps become UTC epoch micros."""
    out = []
    for c in cols:
        col = table.column(c)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.timestamp("us", tz="UTC")).cast(pa.int64())
        out.append(col.to_pylist())
    return [tuple(_plain(v) for v in r) for r in zip(*out)]


def _close(a, b, rel: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=ABS_TOL)
    return a == b


def _sort_key(row: tuple, key: tuple[int, ...]):
    return tuple((row[i] is None, row[i] if row[i] is not None else 0) for i in key)


def same(got: pa.Table, want: pa.Table, cols: tuple[str, ...], key: tuple[str, ...] | None,
         rel: float = REL_TOL) -> bool:
    """Equal row multisets (``key`` given) or equal row sequences
    (``key`` None), floats compared with a relative tolerance."""
    a, b = rows(got, cols), rows(want, cols)
    if len(a) != len(b):
        return False
    if key is not None:
        idx = tuple(cols.index(k) for k in key)
        a.sort(key=lambda r: _sort_key(r, idx))
        b.sort(key=lambda r: _sort_key(r, idx))
    return all(_close(x, y, rel) for ra, rb in zip(a, b) for x, y in zip(ra, rb))


# --- fetch_trades ---------------------------------------------------------------


class TradeTable:
    """The landed ``options_trades`` table in DuckDB, raw (``t``) and
    with FINAL semantics (``tf``: per trade_id the row with the greatest
    timestamp)."""

    def __init__(self, con: duckdb.DuckDBPyConnection, table_dir: Path):
        self.con = con
        cols = ", ".join(f'"{c}"' for c in TRADE_COLS)
        con.execute(
            f"CREATE OR REPLACE TABLE t AS SELECT {cols} FROM read_parquet("
            f"'{parquet_glob(table_dir, 3)}', hive_partitioning = true)"
        )
        con.execute(
            "CREATE OR REPLACE TABLE tf AS SELECT * EXCLUDE (rn) FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY trade_id"
            '    ORDER BY "timestamp" DESC, price DESC) AS rn FROM t) WHERE rn = 1'
        )

    def fetch(self, underlying=None, start=None, end=None, option_type=None, expiry=None,
              strike=None, limit=None, use_final=True) -> pa.Table:
        """Expected ``fetch_trades`` result; ``start``/``end`` are dates
        (``end`` inclusive of its whole day)."""
        preds, args = [], []
        for sql, v in (
            ("underlying = ?", underlying),
            ("option_type = ?", option_type),
            ("expiry = CAST(? AS DATE)", expiry),
            ("strike = ?", strike),
            ('"timestamp" >= CAST(? AS DATE)', start),
            ('"timestamp" < CAST(? AS DATE) + INTERVAL 1 DAY', end),
        ):
            if v is not None:
                preds.append(sql)
                args.append(v)
        where = f"WHERE {' AND '.join(preds)}" if preds else ""
        lim = f"LIMIT {int(limit)}" if limit is not None else ""
        src = "tf" if use_final else "t"
        sql = f'SELECT * FROM {src} {where} ORDER BY "timestamp" DESC, trade_id DESC {lim}'
        return self.con.execute(sql, args).arrow()


# --- features -------------------------------------------------------------------


def feature_sql(cfg, spot_glob: str, lookback_days: int, min_periods: int) -> dict[str, tuple[str, tuple, tuple | None]]:
    """name -> (SQL over table ``t`` and the spot parquet, output
    columns, sort key or None for an ordered result)."""
    step = cfg.resample_seconds
    w = cfg.atm_width
    t0, t1, t2, t3 = cfg.moneyness_thresholds
    r = float(cfg.risk_free_rate)
    dte_case = "CASE " + " ".join(
        f"WHEN dte(\"timestamp\", expiry) BETWEEN {lo} AND {hi} THEN 'dte_{lo}_{hi}'"
        for lo, hi in cfg.dte_buckets
    ) + " END"
    spot_dim = (
        f"SELECT symbol, bucket(\"timestamp\", {step}) AS w, arg_max(close, \"timestamp\") AS close "
        f"FROM read_parquet('{spot_glob}') GROUP BY ALL"
    )
    buckets = ("deep_otm_put", "otm_put", "atm", "otm_call", "deep_otm_call")
    pivot = []
    for b in buckets:
        pivot += [f"avg(iv) FILTER (WHERE b = '{b}') AS {b}_iv",
                  f"count(*) FILTER (WHERE b = '{b}') AS {b}_count"]
        if b == "atm":
            pivot += ["stddev_pop(iv) FILTER (WHERE b = 'atm') AS atm_iv_std",
                      "sum(amount) FILTER (WHERE b = 'atm') AS atm_volume"]
    pivot_cols = tuple(c.rsplit(" AS ", 1)[1] for c in pivot)

    contract = f"""
WITH fm AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY bucket("timestamp", {step}), underlying
                                 ORDER BY dte("timestamp", expiry), trade_id) AS rn FROM t)
  WHERE rn = 1),
atm AS (SELECT * FROM fm WHERE strike / index_price BETWEEN {1 - w} AND {1 + w}),
liq AS (
  SELECT * EXCLUDE (dv) FROM (
    SELECT *, sum(amount) OVER (PARTITION BY instrument_name, CAST("timestamp" AS DATE)) AS dv FROM atm)
  WHERE dv >= {cfg.min_volume}),
dim AS ({spot_dim}),
enr AS (
  SELECT l.*, l.strike / coalesce(l.index_price, d.close) AS m FROM liq l
  LEFT JOIN dim d ON d.symbol = l.underlying || 'USDT' AND d.w = bucket(l."timestamp", {step})),
v AS (
  SELECT bucket("timestamp", {step}) AS ts, iv, amount,
         CASE WHEN m < {t0} THEN 'deep_otm_put' WHEN m < {t1} THEN 'otm_put'
              WHEN m < {t2} THEN 'atm' WHEN m < {t3} THEN 'otm_call' ELSE 'deep_otm_call' END AS b
  FROM enr WHERE m > 0 AND iv > 0),
wide AS (SELECT ts, {', '.join(pivot)} FROM v GROUP BY ts HAVING count(*) FILTER (WHERE b = 'atm') > 0)
SELECT *, otm_put_iv - otm_call_iv AS put_call_skew,
       (otm_put_iv + otm_call_iv) / 2 - atm_iv AS smile_curvature,
       deep_otm_put_iv / nullif(deep_otm_call_iv, 0) AS wing_ratio
FROM wide"""

    pcr = f"""
SELECT bucket("timestamp", {step}) AS ts, {dte_case} AS dte_bucket,
       coalesce(sum(amount) FILTER (WHERE option_type = 'P'), 0.0) AS put_volume,
       coalesce(sum(amount) FILTER (WHERE option_type = 'C'), 0.0) AS call_volume,
       put_volume / nullif(call_volume, 0) AS pcr
FROM t WHERE dte("timestamp", expiry) <= {cfg.exclude_leaps_dte} AND dte_bucket IS NOT NULL
GROUP BY ALL"""

    term = f"""
SELECT ts, near_iv, far_iv, near_iv - far_iv AS ts_slope, near_iv / nullif(far_iv, 0) AS ts_ratio
FROM (SELECT bucket("timestamp", {step}) AS ts,
             avg(iv) FILTER (WHERE dte("timestamp", expiry) <= {cfg.near_dte_max}) AS near_iv,
             avg(iv) FILTER (WHERE dte("timestamp", expiry) >= {cfg.far_dte_min}) AS far_iv
      FROM t WHERE iv > 0 GROUP BY ALL)
WHERE near_iv IS NOT NULL AND far_iv IS NOT NULL"""

    dte_agg = f"""
SELECT bucket("timestamp", {step}) AS ts, {dte_case} AS dte_bucket,
       avg(iv) AS iv_mean, stddev_pop(iv) AS iv_std, sum(amount) AS volume_sum,
       count(*) AS trade_count, avg(price) AS price_mean
FROM t WHERE dte_bucket IS NOT NULL GROUP BY ALL"""

    ivp = f"""
WITH bars AS (
  SELECT bucket("timestamp", {step}) AS bucket_ts, underlying,
         first(iv ORDER BY "timestamp", trade_id) AS iv_open, max(iv) AS iv_high, min(iv) AS iv_low,
         last(iv ORDER BY "timestamp", trade_id) AS iv_close, sum(amount) AS volume, count(iv) AS n_obs
  FROM t WHERE iv IS NOT NULL GROUP BY ALL),
ranked AS (
  SELECT a.bucket_ts, a.underlying, count(*) AS n, count(*) FILTER (WHERE b.iv_close <= a.iv_close) AS k
  FROM bars a JOIN bars b ON b.underlying = a.underlying
   AND b.bucket_ts BETWEEN a.bucket_ts - INTERVAL {int(lookback_days)} DAY AND a.bucket_ts
  GROUP BY ALL)
SELECT bars.*, CASE WHEN n >= {int(min_periods)} THEN 100.0 * k / n END AS iv_percentile
FROM bars JOIN ranked USING (bucket_ts, underlying)"""

    ys = float(cfg.year_seconds)
    greeks = f"""
WITH dim AS ({spot_dim}),
e AS (
  SELECT t.*, coalesce(t.index_price, d.close) AS s,
         (epoch_us(CAST(t.expiry AS TIMESTAMP)) - epoch_us(t."timestamp")) / 1e6 / {ys} AS ty
  FROM t LEFT JOIN dim d ON d.symbol = t.underlying || 'USDT' AND d.w = bucket(t."timestamp", {step})),
d AS (
  SELECT *, ty > 0 AND iv > 0 AND s > 0 AND strike > 0 AS ok,
         CASE WHEN ok THEN sqrt(ty) END AS sq,
         CASE WHEN ok THEN (ln(s / strike) + ({r} + iv * iv / 2.0) * ty) / (iv * sq) END AS d1
  FROM e),
g AS (
  SELECT underlying, amount, s, ok, sq, d1, d1 - iv * sq AS d2, npdf(d1) AS pd1, iv, ty, strike,
         price, option_type = 'C' AS call FROM d),
gk AS (
  SELECT underlying, amount, s,
         CASE WHEN ok THEN (CASE WHEN call THEN ncdf(d1) ELSE ncdf(d1) - 1.0 END) - price / s END AS adj_delta,
         CASE WHEN ok THEN pd1 / (s * iv * sq) END AS gamma,
         CASE WHEN ok THEN s * pd1 * sq / 100.0 END AS vega,
         CASE WHEN ok THEN (CASE WHEN call
              THEN -(s * pd1 * iv) / (2.0 * sq) - {r} * strike * exp(-{r} * ty) * ncdf(d2)
              ELSE -(s * pd1 * iv) / (2.0 * sq) + {r} * strike * exp(-{r} * ty) * ncdf(-d2) END)
              / 365.25 END AS theta
  FROM g)
SELECT underlying, sum(adj_delta * amount) AS portfolio_delta, sum(gamma * amount) AS portfolio_gamma,
       sum(vega * amount) AS portfolio_vega, sum(theta * amount) AS portfolio_theta,
       quantile_cont(s, 0.5) AS median_spot
FROM gk GROUP BY underlying"""

    quality = """
SELECT count(*) AS total_rows, count(DISTINCT trade_id) AS unique_ids,
       count(DISTINCT trade_id) / count(*) AS dedup_rate,
       min("timestamp") AS min_ts, max("timestamp") AS max_ts,
       (epoch_us(max("timestamp")) // 1000000 - epoch_us(min("timestamp")) // 1000000) / 3600.0 AS span_hours,
       count(*) / greatest(span_hours, 1e-9) AS rows_per_hour,
       count(*) FILTER (WHERE iv IS NULL OR iv = 0) / count(*) AS iv_null_or_zero_rate,
       count(*) FILTER (WHERE index_price IS NULL OR index_price = 0) / count(*)
         AS index_price_null_or_zero_rate
FROM t"""

    gaps = """
SELECT underlying, "timestamp" AS gap_start, gap_end,
       (epoch_us(gap_end) - epoch_us("timestamp")) / 1e6 / 3600.0 AS gap_hours
FROM (SELECT underlying, "timestamp",
             lead("timestamp") OVER (PARTITION BY underlying ORDER BY "timestamp") AS gap_end FROM t)
WHERE gap_hours > 1.0
ORDER BY gap_hours DESC, gap_start LIMIT 100"""

    return {
        "contract_pipeline": (contract, ("ts", *pivot_cols, "put_call_skew", "smile_curvature", "wing_ratio"), ("ts",)),
        "pcr_by_tenor": (pcr, ("ts", "dte_bucket", "put_volume", "call_volume", "pcr"), ("ts", "dte_bucket")),
        "term_structure": (term, ("ts", "near_iv", "far_iv", "ts_slope", "ts_ratio"), ("ts",)),
        "dte_bucket_agg": (dte_agg, ("ts", "dte_bucket", "iv_mean", "iv_std", "volume_sum", "trade_count",
                                     "price_mean"), ("ts", "dte_bucket")),
        "iv_percentile": (ivp, ("bucket_ts", "underlying", "iv_open", "iv_high", "iv_low", "iv_close", "volume",
                                "n_obs", "iv_percentile"), ("bucket_ts", "underlying")),
        "greeks": (greeks, ("underlying", "portfolio_delta", "portfolio_gamma", "portfolio_vega",
                            "portfolio_theta", "median_spot"), ("underlying",)),
        "quality_metrics": (quality, ("total_rows", "unique_ids", "dedup_rate", "min_ts", "max_ts", "span_hours",
                                      "rows_per_hour", "iv_null_or_zero_rate", "index_price_null_or_zero_rate"),
                            None),
        "gap_analysis": (gaps, ("underlying", "gap_start", "gap_end", "gap_hours"), None),
    }


# --- backfill -------------------------------------------------------------------

_MONTHS = {m: i + 1 for i, m in enumerate(
    ("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"))}


def expected_landing(trades: list[dict]) -> set[tuple]:
    """(trade_id, ts_ms, underlying, expiry, strike, option_type) per
    trade, parsing the Deribit instrument name independently."""
    out = set()
    for tr in trades:
        und, dmy, strike, opt = tr["instrument_name"].split("-")
        expiry = date(2000 + int(dmy[-2:]), _MONTHS[dmy[-5:-2]], int(dmy[:-5]))
        out.add((tr["trade_id"], tr["timestamp"], und, expiry, float(strike), opt))
    return out


def staged_rows(con, staging: Path) -> set[tuple]:
    sql = (
        "SELECT DISTINCT trade_id, instrument_name, epoch_ms(\"timestamp\") AS ts_ms, price, amount, "
        f"direction, iv, index_price FROM read_parquet('{parquet_glob(staging, 2)}', hive_partitioning = true)"
    )
    return set(con.execute(sql).fetchall())


def landed_stats(con, table: Path) -> tuple[int, int, set[tuple]]:
    """(rows, distinct trade_ids, landing tuples) of the landed table."""
    src = f"read_parquet('{parquet_glob(table, 3)}', hive_partitioning = true)"
    n, distinct = con.execute(f"SELECT count(*), count(DISTINCT trade_id) FROM {src}").fetchone()
    got = set(con.execute(
        f"SELECT trade_id, epoch_ms(\"timestamp\"), underlying, expiry, strike, option_type FROM {src}"
    ).fetchall())
    return n, distinct, got
