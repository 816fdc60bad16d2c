"""The benchmark's three workloads over the package's public surface.

Each workload sets up (starts the session, generates and lands its
inputs), runs its operations in a closed loop with one client until
``seconds`` have passed, and then, outside the timed section, checks
every output against the DuckDB oracle. ``point_queries`` serves an
interactive session, so it first warms up with one untimed block of
queries; ``backfill`` and ``feature_batch`` are batch jobs, which
pay the JVM's warm-up in every fresh session, so their first cycle or
pass is measured as it comes. Calls into each layer go through :class:`tracing.Tracer`, so a
traced run gets a span per call without any change to the package.

- ``backfill``: ingest cycles. Each cycle runs ``collect_trades`` over
  a fresh ``SyntheticTradePages`` range, interrupted by ``max_pages``,
  then resumed from its checkpoint, then an overlapping sub-range is
  replayed; the staged trades are parsed with ``with_parsed_instrument``,
  landed with ``write_table`` and compacted with ``compact_table``.
- ``point_queries``: ``fetch_trades`` point lookups (FINAL), one-day
  range scans (no FINAL) and latest-N (FINAL) over a generated table.
- ``feature_batch``: the feature stack over the same generated table.
"""

from __future__ import annotations

import itertools
import shutil
import sys
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
import procs
from tracing import Op, Tracer, clock, median

from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.api import fetch_trades
from gapless_deribit_clickhouse_spark.exceptions import SourceError
from gapless_deribit_clickhouse_spark.features import config as feature_config
from gapless_deribit_clickhouse_spark.features.contract_selector import select_contracts
from gapless_deribit_clickhouse_spark.features.dte_buckets import dte_bucket_agg
from gapless_deribit_clickhouse_spark.features.iv_percentile import iv_percentile
from gapless_deribit_clickhouse_spark.features.moneyness import aggregate_by_moneyness
from gapless_deribit_clickhouse_spark.features.pcr import pcr_by_tenor
from gapless_deribit_clickhouse_spark.features.resampler import resample_iv
from gapless_deribit_clickhouse_spark.features.spot_provider import enrich_with_spot
from gapless_deribit_clickhouse_spark.features.term_structure import term_structure
from gapless_deribit_clickhouse_spark.functions.blackscholes import portfolio_greeks, with_greeks
from gapless_deribit_clickhouse_spark.functions.instrument import with_parsed_instrument
from gapless_deribit_clickhouse_spark.operators.dedup import compact_table
from gapless_deribit_clickhouse_spark.schema.ddl import write_table
from gapless_deribit_clickhouse_spark.schema.loader import load_schema
from gapless_deribit_clickhouse_spark.sources import rest_collector
from gapless_deribit_clickhouse_spark.sources.rest_collector import SyntheticTradePages, collect_trades
from gapless_deribit_clickhouse_spark.validation.quality import gap_analysis, quality_metrics

SETUP_REPS = 3  # set-up is repeated and its median reported

# generated table shared by point_queries and feature_batch
TABLE_ROWS = 30_000

# backfill cycle: BF_TRADES trades one BF_STEP_MS apart, straddling a
# month boundary; written in BF_BATCH-row batches of 1000-trade pages
BF_TRADES = 10_000
BF_BATCH = 5_000
BF_STEP_MS = 1_000
BF_INTERRUPT_PAGES = 6  # one batch written, one page buffered and lost

# point_queries: every block of queries holds these (kind, underlying)
# slots. Range scans are the fastest kind, point lookups with FINAL the
# slowest; with 30% range and 30% point the median falls inside the
# latest-N share and p90 inside the point-lookup share.
QUERY_BLOCK = (
    ("range", "BTC"), ("range", "BTC"), ("range", "ETH"),
    ("latest_final", "BTC"), ("latest_final", "BTC"), ("latest_final", "ETH"), ("latest_final", "ETH"),
    ("point_final", "BTC"), ("point_final", "BTC"), ("point_final", "ETH"),
)
QUERY_KINDS = ("range", "latest_final", "point_final")
LATEST_N = 100

IV_LOOKBACK_DAYS = 7
IV_MIN_PERIODS = (IV_LOOKBACK_DAYS * 86_400 // 900) // 2


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: Path
    seed: int
    seconds: float
    threads: int
    attempted: int = 0
    failed: int = 0
    rows: int = 0  # rows processed by the timed ops
    storage_ratio: float = 0.0
    setup_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    check_s: float = 0.0
    rss_mb: float = 0.0
    op_kinds: tuple[str, ...] = ()  # the timed kinds that count as operations
    layer: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one operation and whether its output was right."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong output: {what}", file=sys.stderr)

    @contextmanager
    def guarded(self, what: str):
        """Count an operation that raises as failed and go on."""
        try:
            yield
        except Exception:  # any failure of the program under test
            traceback.print_exc()
            self.check(False, f"{what} raised")

    def ops(self) -> list[Op]:
        return [o for o in self.tracer.ops if o.kind in self.op_kinds]

    def busy_s(self) -> float:
        return sum(o.seconds for o in self.ops())

    def end_timed(self) -> None:
        """Close the timed section: read the peak memory before the
        oracle adds its own."""
        self.rss_mb = procs.tree_peak_rss_mb()


def _tree_files(root: Path) -> tuple[int, int]:
    files = list(root.rglob("*.parquet"))
    return len(files), sum(f.stat().st_size for f in files)


# --- generated table (point_queries, feature_batch) -------------------------------


def land_generated(ctx: Ctx):
    """Generate the seeded table and land it in the ``options_trades``
    layout; repeated SETUP_REPS times, the last landing is kept."""
    tr, schema = ctx.tracer, load_schema("options_trades")
    inputs = ctx.work / "input"
    inputs.mkdir(parents=True, exist_ok=True)
    gen_ms, write_ms = [], []
    table = None
    for rep in range(SETUP_REPS):
        t0 = clock()
        with tr.span("setup.generate"):
            trades, spot = gen.generate(ctx.seed, TABLE_ROWS)
            pq.write_table(trades, inputs / "trades.parquet")
            pq.write_table(spot, inputs / "spot.parquet")
        t1 = clock()
        if table is not None:
            shutil.rmtree(table)
        table = ctx.work / f"options_trades_{rep}"
        df = ctx.spark.read.parquet(str(inputs / "trades.parquet"))
        with tr.span("ddl.write_table"):
            write_table(df, schema, str(table), mode="overwrite")
        t2 = clock()
        gen_ms.append((t1 - t0) * 1e3)
        write_ms.append((t2 - t1) * 1e3)
        ctx.setup_s.append(t2 - t0)
    ctx.layer["setup.generate_ms"] = median(gen_ms)
    ctx.layer["ddl.write_table_ms"] = median(write_ms)
    files, size = _tree_files(table)
    ctx.layer["ddl.files_written"], ctx.layer["ddl.bytes_written"] = files, size
    ctx.storage_ratio = size / gen.user_bytes(trades)
    return table, inputs / "spot.parquet", trades


# --- point_queries ------------------------------------------------------------------


def _query_blocks(trades, seed: int):
    """Endless seeded stream of query blocks; every block holds the
    QUERY_BLOCK slots in a seeded order, each on a random trade of the
    slot's underlying (its day, and for point lookups its instrument)."""
    rng = np.random.default_rng([seed, 1])
    und = trades.column("underlying").to_numpy(zero_copy_only=False)
    rows = {u: np.flatnonzero(und == u) for u in set(u for _, u in QUERY_BLOCK)}
    ts = trades.column("timestamp").to_pylist()
    expiry = trades.column("expiry").to_pylist()
    strike = trades.column("strike").to_pylist()
    opt = trades.column("option_type").to_pylist()
    first_day = min(ts).date()
    while True:
        block = []
        for slot in rng.permutation(len(QUERY_BLOCK)):
            kind, u = QUERY_BLOCK[slot]
            i = int(rng.choice(rows[u]))
            day = ts[i].date()
            if kind == "latest_final" and day == first_day:
                day += timedelta(days=1)
            day = day.isoformat()
            if kind == "range":
                args = dict(underlying=u, start=day, end=day, use_final=False)
            elif kind == "point_final":
                args = dict(underlying=u, expiry=expiry[i].isoformat(), strike=strike[i],
                            option_type=opt[i], start=day, end=day, use_final=True)
            else:
                args = dict(underlying=u, end=day, limit=LATEST_N, use_final=True)
            block.append((kind, args))
        yield block


def scan_rows(df) -> int:
    """Rows the executed plan's file scans produced, read from the
    plan's SQL metrics after the DataFrame was collected."""
    total, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if "Scan" in name and node.metrics().contains("numOutputRows"):
            total += node.metrics().apply("numOutputRows").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def point_queries(ctx: Ctx) -> None:
    tr = ctx.tracer
    table, _, trades = land_generated(ctx)
    df = ctx.spark.read.parquet(str(table))
    blocks = _query_blocks(trades, ctx.seed)
    ctx.op_kinds = QUERY_KINDS

    def run(kind, args):
        with ctx.guarded(f"fetch_trades {args}"), tr.op(kind) as op:
            with tr.span("api.fetch_trades"):
                q = fetch_trades(df, **args)
            with tr.span("spark.collect"):
                got = q.toArrow()
            op.rows = got.num_rows
            return [(args, q, got)]
        return []

    # warm-up: one untimed block, so the JIT has compiled the query
    # paths and the timed latencies hold steady from the first block on
    t0 = clock()
    with tr.paused():
        warm = [r for kind, args in next(blocks) for r in run(kind, args)]
    tr.ops.clear()
    ctx.warmup_s = clock() - t0

    # whole blocks, so every run has the same mix of kinds
    done = []
    deadline = clock() + ctx.seconds
    while clock() < deadline:
        done += [r for kind, args in next(blocks) for r in run(kind, args)]
    ctx.end_timed()
    ctx.rows = sum(got.num_rows for *_, got in done)

    if tr.enabled:
        ctx.layer["api.plan_ms_p50"] = median(tr.durations_ms("api.fetch_trades"))
        ctx.layer["api.exec_ms_p50"] = median(tr.durations_ms("spark.collect"))
        for kind in QUERY_KINDS:
            ctx.layer[f"api.{kind}_ms_p50"] = median([o.seconds * 1e3 for o in tr.ops if o.kind == kind])
        scanned = sum(scan_rows(q) for _, q, _ in done)
        ctx.layer["api.rows_scanned_per_row_returned"] = scanned / max(1, ctx.rows)

    t0 = clock()
    con = oracle.connect(ctx.threads)
    want = oracle.TradeTable(con, table)
    for args, _, got in warm + done:
        ctx.check(oracle.same(got, want.fetch(**args), oracle.TRADE_COLS, key=None), f"fetch_trades {args}")
    con.close()
    ctx.check_s = clock() - t0


# --- feature_batch ------------------------------------------------------------------


def _feature_stages(tr: Tracer, df, spot):
    """name -> function building that stage's lazy DataFrame."""
    w = tr.wrap
    return {
        "contract_pipeline": lambda: w("features.aggregate_by_moneyness", aggregate_by_moneyness)(
            w("features.enrich_with_spot", enrich_with_spot)(
                w("features.select_contracts", select_contracts)(df, "front_month_atm_liquid"), spot)),
        "pcr_by_tenor": lambda: w("features.pcr_by_tenor", pcr_by_tenor)(df),
        "term_structure": lambda: w("features.term_structure", term_structure)(df),
        "dte_bucket_agg": lambda: w("features.dte_bucket_agg", dte_bucket_agg)(df),
        "iv_percentile": lambda: w("features.iv_percentile", iv_percentile)(
            w("features.resample_iv", resample_iv)(df, keys=("underlying",)),
            ts_col="bucket_ts", keys=("underlying",), lookback_days=IV_LOOKBACK_DAYS),
        "greeks": lambda: w("blackscholes.portfolio_greeks", portfolio_greeks)(
            w("blackscholes.with_greeks", with_greeks)(w("features.enrich_with_spot", enrich_with_spot)(df, spot)),
            group_cols=("underlying",)),
        "quality_metrics": lambda: w("validation.quality_metrics", quality_metrics)(df),
        "gap_analysis": lambda: w("validation.gap_analysis", gap_analysis)(df, group_cols=("underlying",)),
    }


# metric name of each stage's time
STAGE_METRIC = {
    "contract_pipeline": "features.contract_pipeline_ms",
    "pcr_by_tenor": "features.pcr_by_tenor_ms",
    "term_structure": "features.term_structure_ms",
    "dte_bucket_agg": "features.dte_bucket_agg_ms",
    "iv_percentile": "features.iv_percentile_ms",
    "greeks": "blackscholes.greeks_ms",
    "quality_metrics": "validation.quality_metrics_ms",
    "gap_analysis": "validation.gap_analysis_ms",
}


def feature_batch(ctx: Ctx) -> None:
    tr = ctx.tracer
    table, spot_path, trades = land_generated(ctx)
    df = ctx.spark.read.parquet(str(table))
    spot = ctx.spark.read.parquet(str(spot_path))
    stages = _feature_stages(tr, df, spot)

    ctx.op_kinds = ("pass",)
    outputs = []
    deadline = clock() + ctx.seconds
    while clock() < deadline:
        with tr.op("pass") as op:
            for name, build in stages.items():
                with ctx.guarded(f"feature {name}"), tr.op(name):
                    out = build()
                    with tr.span("spark.collect"):
                        outputs.append((name, out.toArrow()))
            op.rows = trades.num_rows
    ctx.end_timed()
    ctx.rows = sum(o.rows for o in ctx.ops())
    if tr.enabled:
        for name, metric in STAGE_METRIC.items():
            ctx.layer[metric] = median([o.seconds * 1e3 for o in tr.ops if o.kind == name])

    t0 = clock()
    con = oracle.connect(ctx.threads)
    oracle.TradeTable(con, table)
    specs = oracle.feature_sql(feature_config.DEFAULT, str(spot_path), IV_LOOKBACK_DAYS, IV_MIN_PERIODS)
    want = {name: con.execute(sql).arrow() for name, (sql, _, _) in specs.items()}
    for name, got in outputs:
        _, cols, key = specs[name]
        rel = oracle.SUM_REL_TOL if name == "greeks" else oracle.REL_TOL
        ctx.check(oracle.same(got, want[name], cols, key, rel), f"feature {name}")
    con.close()
    ctx.check_s = clock() - t0


# --- backfill -------------------------------------------------------------------------


@dataclass
class Cycle:
    index: int
    source: SyntheticTradePages
    start: int
    end: int
    root: Path
    interrupted: bool = False
    fetched: int = 0
    compact_stats: dict | None = None

    @property
    def staging(self) -> Path:
        return self.root / "staging"

    @property
    def table(self) -> Path:
        return self.root / "options_trades"

    def replay_range(self) -> tuple[int, int]:
        quarter = (self.end - self.start) // 4
        return self.start + quarter, self.end - quarter


def _cycle(ctx: Ctx, index: int) -> Cycle:
    """Cycle ``index`` of this seed: a fresh source and a range of
    BF_TRADES trades centred on a month boundary."""
    currency = ("BTC", "BTC", "ETH")[index % 3]
    boundary = datetime(2024 + (11 + index) // 12, (11 + index) % 12 + 1, 1, tzinfo=timezone.utc)
    b_ms = int(boundary.timestamp() * 1000)
    start = b_ms - (BF_TRADES // 2) * BF_STEP_MS
    end = start + (BF_TRADES - 1) * BF_STEP_MS
    source = SyntheticTradePages(currency, step_ms=BF_STEP_MS, seed=ctx.seed * 1000 + index)
    return Cycle(index, source, start, end, ctx.work / "backfill" / f"cycle{index}")


def _run_cycle(ctx: Ctx, cyc: Cycle) -> None:
    tr = ctx.tracer
    spark = ctx.spark
    schema = load_schema("options_trades")
    src = cyc.source
    if tr.enabled:
        fetch = src.fetch_page

        def counted(*args, **kwargs):
            page = fetch(*args, **kwargs)
            cyc.fetched += len(page)
            return page

        src.fetch_page = tr.wrap("rest_collector.fetch_page", counted)

    ckpt = str(cyc.root / "checkpoints")
    with tr.patched(rest_collector, "validate_page_continuity", "rest_collector.validate"), \
            tr.patched(rest_collector, "_write_batch", "rest_collector.write_batch"):
        with tr.op("collect_interrupted"):
            try:
                with tr.span("rest_collector.collect_trades"):
                    collect_trades(spark, src, cyc.start, cyc.end, str(cyc.staging), ckpt,
                                   batch_rows=BF_BATCH, max_pages=BF_INTERRUPT_PAGES)
            except SourceError:
                cyc.interrupted = True
        with tr.op("collect_resume"):
            with tr.span("rest_collector.collect_trades"):
                collect_trades(spark, src, cyc.start, cyc.end, str(cyc.staging), ckpt, batch_rows=BF_BATCH)
        with tr.op("collect_replay"):
            with tr.span("rest_collector.collect_trades"):
                collect_trades(spark, src, *cyc.replay_range(), str(cyc.staging), batch_rows=BF_BATCH)
    with tr.op("land"):
        staged = spark.read.parquet(str(cyc.staging)).drop("batch_token")
        with tr.span("instrument.with_parsed_instrument"):
            parsed = with_parsed_instrument(staged)
        out = parsed.select(*[
            F.col(c) if c in parsed.columns else F.lit(None).cast("double").alias(c)
            for c in oracle.TRADE_COLS
        ])
        with tr.span("ddl.write_table"):
            write_table(out, schema, str(cyc.table), mode="append")
    with tr.op("compact"):
        touched = [
            dict(p.split("=", 1) for p in (leaf.parent.name, leaf.name))
            for leaf in cyc.table.glob("*=*/*=*")
        ]
        with tr.span("dedup.compact_table"):
            cyc.compact_stats = compact_table(
                spark, str(cyc.table), keys=schema.dedup_key, version_cols=schema.dedup_version,
                partition_cols=schema.partition_by, only_partitions=touched,
                sort_within_partitions=schema.sort_within_partitions)
    vars(src).pop("fetch_page", None)


def _check_cycle(ctx: Ctx, con, cyc: Cycle) -> int:
    """The backfill's four checks plus the landed content; returns the
    cycle's unique landed rows."""
    expected = cyc.source.fetch_page(cyc.start, cyc.end, count=BF_TRADES + 1)
    ctx.check(cyc.interrupted and len(expected) == BF_TRADES,
              f"cycle {cyc.index}: max_pages did not interrupt the collector")
    want = {tuple(t[c] for c in ("trade_id", "instrument_name", "timestamp", "price", "amount",
                                 "direction", "iv", "index_price")) for t in expected}
    staged = oracle.staged_rows(con, cyc.staging)
    # the resumed run staged exactly what an uninterrupted run stages
    ctx.check(staged == want, f"cycle {cyc.index}: resumed staging differs from an uninterrupted run")
    rows, distinct, landed = oracle.landed_stats(con, cyc.table)
    # the replay added no rows and compaction left no duplicate trade_id
    ctx.check(rows == distinct == BF_TRADES, f"cycle {cyc.index}: {rows} rows, {distinct} ids after compaction")
    ctx.check(landed == oracle.expected_landing(expected), f"cycle {cyc.index}: landed rows differ")
    ctx.check(cyc.compact_stats is not None and cyc.compact_stats["rows_after"] == BF_TRADES,
              f"cycle {cyc.index}: compact_table stats {cyc.compact_stats}")
    return distinct


def backfill(ctx: Ctx) -> None:
    tr = ctx.tracer
    gen_ms = []
    for _ in range(SETUP_REPS):
        t0 = clock()
        with tr.span("setup.generate"):
            first = _cycle(ctx, 0)
            first.source.fetch_page(first.start, first.end, count=BF_TRADES + 1)
        gen_ms.append((clock() - t0) * 1e3)
        ctx.setup_s.append(clock() - t0)
    ctx.layer["setup.generate_ms"] = median(gen_ms)

    ctx.op_kinds = ("cycle",)
    cycles = []
    deadline = clock() + ctx.seconds
    for index in itertools.count():
        if clock() >= deadline:
            break
        cyc = _cycle(ctx, index)
        with ctx.guarded(f"backfill cycle {index}"), tr.op("cycle"):
            _run_cycle(ctx, cyc)
            cycles.append(cyc)
    ctx.end_timed()
    if not cycles:
        return

    t0 = clock()
    con = oracle.connect(ctx.threads)
    landed = [_check_cycle(ctx, con, c) for c in cycles]
    ctx.rows = sum(landed)
    last = cycles[-1]
    user = con.execute(
        f"SELECT * EXCLUDE (trade_month) FROM read_parquet('{oracle.parquet_glob(last.table, 3)}', "
        "hive_partitioning = true)").arrow()
    con.close()
    ctx.check_s = clock() - t0
    files, size = _tree_files(last.table)
    ctx.storage_ratio = size / gen.user_bytes(user)

    if tr.enabled:
        ctx.layer["ddl.write_table_ms"] = median(tr.durations_ms("ddl.write_table"))
        ctx.layer["ddl.files_written"] = files
        ctx.layer["ddl.bytes_written"] = size
        ctx.layer["rest_collector.pages"] = len(tr.durations_ms("rest_collector.fetch_page")) / len(cycles)
        ctx.layer["rest_collector.fetch_page_ms"] = sum(tr.durations_ms("rest_collector.fetch_page")) / len(cycles)
        ctx.layer["rest_collector.validate_ms"] = sum(tr.durations_ms("rest_collector.validate")) / len(cycles)
        ctx.layer["rest_collector.write_batch_ms_p50"] = median(tr.durations_ms("rest_collector.write_batch"))
        ctx.layer["rest_collector.batches_written"] = len(tr.durations_ms("rest_collector.write_batch")) / len(cycles)
        ctx.layer["rest_collector.useful_fetch_ratio"] = sum(landed) / max(1, sum(c.fetched for c in cycles))
        ctx.layer["dedup.compact_ms"] = median(tr.durations_ms("dedup.compact_table"))
        ctx.layer["dedup.rows_removed"] = median([c.compact_stats["removed"] for c in cycles])
        ctx.layer["dedup.bytes_rewritten"] = median([
            sum(_tree_files(c.table / p)[1] for p in c.compact_stats["partitions"]) for c in cycles])


WORKLOADS = {"backfill": backfill, "point_queries": point_queries, "feature_batch": feature_batch}
