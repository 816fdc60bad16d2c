"""Collector (pagination/continuity/idempotency/resume) + Structured
Streaming (watermark dedup, windowed bars, exactly-once sink)."""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.exceptions import SourceError
from gapless_deribit_clickhouse_spark.sources import rest_collector
from gapless_deribit_clickhouse_spark.sources.rest_collector import (
    BATCH_FILE,
    TRADE_SCHEMA,
    CheckpointStore,
    SyntheticTradePages,
    _write_batch,
    batch_token,
    collect_trades,
    validate_page_continuity,
)
from gapless_deribit_clickhouse_spark.streaming.ingest import (
    dedup_stream,
    read_trade_stream,
    streaming_gap_monitor,
    streaming_ohlc,
    write_stream_idempotent,
)

HOUR_MS = 3600 * 1000
T0 = 1_700_000_000_000


# --- S3: continuity validation matrix (reference tests/unit/
#     test_pagination_validation.py:9-118) ---
def _page(ids_ts):
    return [{"trade_id": i, "timestamp": t} for i, t in ids_ts]


def test_continuity_ok():
    ok, w = validate_page_continuity(
        _page([("b", 2000), ("a", 1500)]), _page([("z", 1400), ("y", 900)])
    )
    assert ok and not w


def test_continuity_gap_flagged():
    ok, w = validate_page_continuity(
        _page([("b", 10_000)]), _page([("a", 1000)])
    )
    assert not ok and "gap" in w[0]


def test_continuity_duplicates_flagged():
    ok, w = validate_page_continuity(
        _page([("x", 2000)]), _page([("x", 1999)])
    )
    assert not ok and "duplicate" in w[0]


def test_continuity_custom_threshold():
    ok, _ = validate_page_continuity(
        _page([("b", 5000)]), _page([("a", 1000)]), gap_threshold_ms=10_000
    )
    assert ok


def test_continuity_accepts_refetched_boundary_ms():
    # the next page restarts at the previous page's oldest millisecond
    ok, w = validate_page_continuity(
        _page([("c", 2000), ("b", 1500), ("a", 1500)]),
        _page([("b", 1500), ("a", 1500), ("z", 1400)]),
    )
    assert ok and not w
    # ... and the refetch does not hide a gap behind it
    ok, w = validate_page_continuity(_page([("a", 5000)]), _page([("a", 5000), ("z", 1000)]))
    assert not ok and "gap" in w[0]


def test_continuity_empty_pages():
    assert validate_page_continuity([], _page([("a", 1)]))[0]


def test_batch_token_stable():
    assert batch_token("BTC", 1, 2, 3) == batch_token("BTC", 1, 2, 3)
    assert batch_token("BTC", 1, 2, 3) != batch_token("BTC", 1, 2, 4)
    assert len(batch_token("BTC", 1, 2, 3)) == 32


# --- S1/S2/S5/S7: cursor backfill, idempotent writes, resume ---
def test_collect_trades_complete_and_idempotent(spark, tmp_path):
    src = SyntheticTradePages(step_ms=1000)
    out = str(tmp_path / "trades")
    stats = collect_trades(
        spark, src, T0, T0 + 2 * HOUR_MS, out, checkpoint_dir=str(tmp_path / "ckpt"),
        batch_rows=3000, page_size=500,
    )
    n_expected = 2 * 3600 + 1  # one per second inclusive
    assert stats["total_collected"] == n_expected
    df = spark.read.parquet(out)
    assert df.count() == n_expected
    assert df.select("trade_id").distinct().count() == n_expected
    # replay the full job: partitions overwritten, no duplicates
    stats2 = collect_trades(
        spark, src, T0, T0 + 2 * HOUR_MS, out, checkpoint_dir=str(tmp_path / "ckpt"),
        batch_rows=3000, page_size=500,
    )
    assert spark.read.parquet(out).count() == n_expected
    assert stats2["total_collected"] == n_expected


def test_collect_trades_resume_after_crash(spark, tmp_path):
    src = SyntheticTradePages(step_ms=1000)
    out = str(tmp_path / "trades")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(SourceError):
        collect_trades(
            spark, src, T0, T0 + 2 * HOUR_MS, out, checkpoint_dir=ckpt,
            batch_rows=1000, page_size=500, max_pages=5,
        )
    # resume from checkpoint completes without duplicates
    collect_trades(
        spark, src, T0, T0 + 2 * HOUR_MS, out, checkpoint_dir=ckpt,
        batch_rows=1000, page_size=500,
    )
    df = spark.read.parquet(out)
    n_expected = 2 * 3600 + 1
    assert df.select("trade_id").distinct().count() == n_expected
    assert df.count() == n_expected


class _TradesPerMs(SyntheticTradePages):
    """``per_ms`` trades at every grid timestamp, as when one order
    fills several price levels in the same millisecond."""

    def __init__(self, per_ms):
        super().__init__(step_ms=1000)
        self.per_ms = per_ms

    def fetch_page(self, start_ts, end_ts, count):
        page = super().fetch_page(start_ts, end_ts, -(-count // self.per_ms))
        return [dict(t, trade_id=f"{t['trade_id']}-{k}") for t in page for k in range(self.per_ms)][:count]


def test_resume_keeps_trades_that_share_a_millisecond(spark, tmp_path):
    """Batches and pages end inside a millisecond: two trades a
    millisecond with batches of 9 and pages of 9 or 10, and seven a
    millisecond with batches of 3 and pages of 8, so one millisecond
    spans several batches and the last page holds one millisecond. An
    uninterrupted run lands every trade; after a crash, the resume
    lands the same trades, each once."""
    end = T0 + 99 * 1000

    def landed(out):
        return [r.trade_id for r in spark.read.parquet(out).select("trade_id").collect()]

    for per_ms, batch_rows, page_size in ((2, 9, 9), (2, 9, 10), (7, 3, 8)):
        case = f"{per_ms}-{batch_rows}-{page_size}"
        src = _TradesPerMs(per_ms)
        # a walk that stops making progress fails instead of hanging
        kw = dict(batch_rows=batch_rows, page_size=page_size, max_pages=1000)
        whole = str(tmp_path / f"whole{case}")
        collect_trades(spark, src, T0, end, whole, **kw)
        expected = landed(whole)
        assert len(expected) == len(set(expected)) == 100 * per_ms, case

        out, ckpt = str(tmp_path / f"trades{case}"), str(tmp_path / f"ckpt{case}")
        with pytest.raises(SourceError, match="interrupted"):
            collect_trades(spark, src, T0, end, out, checkpoint_dir=ckpt, **{**kw, "max_pages": 3})
        collect_trades(spark, src, T0, end, out, checkpoint_dir=ckpt, **kw)
        got = landed(out)
        assert len(got) == len(set(got)), case
        assert set(got) == set(expected), case


def test_millisecond_fuller_than_a_page_raises(spark, tmp_path):
    """Three trades in every millisecond and pages of 2: the walk cannot
    get past the newest millisecond, and says so instead of looping."""
    with pytest.raises(SourceError, match="fill a page of 2"):
        collect_trades(spark, _TradesPerMs(3), T0, T0 + 9 * 1000, str(tmp_path / "trades"),
                       batch_rows=100, page_size=2)


def test_checkpoint_save_crash_keeps_previous_checkpoint(spark, tmp_path, monkeypatch):
    """A save that dies mid-write leaves the previous checkpoint
    loadable, and the resume then lands every trade exactly once."""
    src = SyntheticTradePages(step_ms=1000)
    out, ckpt = str(tmp_path / "trades"), str(tmp_path / "ckpt")
    real_dump, saves = json.dump, []

    def dump_dies_on_second_save(obj, f):
        saves.append(obj)
        if len(saves) == 2:
            f.write(json.dumps(obj)[:10])
            raise OSError("crash mid-write")
        real_dump(obj, f)

    monkeypatch.setattr(rest_collector.json, "dump", dump_dies_on_second_save)
    with pytest.raises(OSError, match="mid-write"):
        collect_trades(spark, src, T0, T0 + HOUR_MS, out, checkpoint_dir=ckpt,
                       batch_rows=1000, page_size=500)
    monkeypatch.undo()
    state = CheckpointStore(ckpt).load(src.currency, T0, T0 + HOUR_MS)
    assert state["batch_number"] == 1 and state["total_collected"] == 1000

    collect_trades(spark, src, T0, T0 + HOUR_MS, out, checkpoint_dir=ckpt,
                   batch_rows=1000, page_size=500)
    df = spark.read.parquet(out)
    assert df.count() == df.select("trade_id").distinct().count() == 3600 + 1


@st.composite
def _backfill_runs(draw):
    per_ms = draw(st.integers(1, 4))
    n_ms = draw(st.integers(1, 30))
    lo = draw(st.integers(0, n_ms - 1))
    return dict(
        per_ms=per_ms,
        n_ms=n_ms,
        page_size=draw(st.integers(per_ms + 1, 3 * per_ms + 4)),
        batch_rows=draw(st.integers(per_ms + 1, 4 * per_ms + 8)),
        stop_after=draw(st.none() | st.integers(1, 40)),
        replay=draw(st.none() | st.tuples(st.just(lo), st.integers(lo, n_ms - 1))),
    )


@given(run=_backfill_runs())
@settings(max_examples=100, deadline=None)
def test_backfill_lands_the_source_set(run):
    """Any ties, page and batch sizes, an interruption after any page
    (then a resume from the checkpoint) and an optional replayed
    sub-range: the staged trade_ids are the source's, and without the
    replay each lands exactly once. ``_write_batch`` runs no Spark job,
    so no session is passed and the staging is read with pyarrow."""
    src = _TradesPerMs(run["per_ms"])
    end = T0 + (run["n_ms"] - 1) * 1000
    source_ids = {t["trade_id"] for t in src.fetch_page(T0, end, run["n_ms"] * run["per_ms"])}
    assert len(source_ids) == run["n_ms"] * run["per_ms"]
    # a walk that stops making progress fails instead of hanging
    kw = dict(batch_rows=run["batch_rows"], page_size=run["page_size"], max_pages=1000)
    with tempfile.TemporaryDirectory() as tmp:
        out, ckpt = os.path.join(tmp, "trades"), os.path.join(tmp, "ckpt")
        if run["stop_after"] is not None:
            try:
                collect_trades(None, src, T0, end, out, checkpoint_dir=ckpt,
                               **{**kw, "max_pages": run["stop_after"]})
            except SourceError as e:
                assert "interrupted" in str(e)
        collect_trades(None, src, T0, end, out, checkpoint_dir=ckpt, **kw)
        if run["replay"] is not None:
            lo, hi = run["replay"]
            collect_trades(None, src, T0 + lo * 1000, T0 + hi * 1000, out, **kw)
        staged = pq.read_table(out, columns=["trade_id"]).column("trade_id").to_pylist()
    assert set(staged) == source_ids
    if run["replay"] is None:
        assert len(staged) == len(source_ids)


# --- S5: the staging write (pyarrow + rename, no Spark job) ---
def _spark_staging_write(spark, rows, token, output_path):
    """The Spark staging write the pyarrow path replaced, kept as the
    reference it must match."""
    (
        spark.createDataFrame(rows, schema=TRADE_SCHEMA)
        .withColumn("batch_token", F.lit(token))
        .withColumn("timestamp", F.timestamp_millis(F.col("timestamp")))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_token")
        .parquet(output_path)
    )


def _trades(n=40):
    rows = SyntheticTradePages(step_ms=1000).fetch_page(T0, T0 + HOUR_MS, n)
    rows[1]["iv"] = None
    rows[2]["index_price"] = None
    return rows


def _without(row, key):
    return {k: v for k, v in row.items() if k != key}


# each case changes row 2 of a batch; error condition prefix
_REJECTED = {
    "null trade_id": (lambda r: dict(r, trade_id=None), "FIELD_NOT_NULLABLE"),
    "missing direction": (lambda r: _without(r, "direction"), "FIELD_NOT_NULLABLE"),
    "float timestamp": (lambda r: dict(r, timestamp=1.5), "FIELD_DATA_TYPE_UNACCEPTABLE"),
    "string price": (lambda r: dict(r, price="0.1"), "FIELD_DATA_TYPE_UNACCEPTABLE"),
}


@pytest.mark.parametrize("case", sorted(_REJECTED))
def test_write_batch_rejects_what_create_dataframe_rejects(spark, tmp_path, case):
    change, condition = _REJECTED[case]
    rows = _trades(5)
    rows[2] = change(rows[2])
    with pytest.raises(PySparkException) as want:
        spark.createDataFrame(rows, schema=TRADE_SCHEMA)
    out = tmp_path / "staging"
    with pytest.raises(PySparkException) as got:
        _write_batch(spark, rows, "tok", str(out))
    assert got.value.getCondition() == want.value.getCondition()
    assert got.value.getCondition().startswith(condition)
    assert not out.exists()


def test_write_batch_accepts_null_iv(spark, tmp_path):
    rows = _trades(5)
    rows[3]["iv"] = None
    out = str(tmp_path / "staging")
    _write_batch(spark, rows, "tok", out)
    got = spark.read.parquet(out).filter(F.col("iv").isNull()).select("trade_id").collect()
    assert {r.trade_id for r in got} == {rows[1]["trade_id"], rows[3]["trade_id"]}


def test_staging_reads_back_like_the_spark_write(spark, tmp_path):
    """Same schema and values through ``spark.read.parquet`` as the
    Spark write, under a session time zone other than UTC."""
    rows = _trades()
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        _spark_staging_write(spark, rows, "tok", old)
        _write_batch(spark, rows, "tok", new)
        a, b = spark.read.parquet(old), spark.read.parquet(new)
        assert b.schema == a.schema
        assert sorted(b.collect()) == sorted(a.collect())
        shown = ["trade_id", F.col("timestamp").cast("string"), F.unix_millis("timestamp")]
        assert sorted(b.select(*shown).collect()) == sorted(a.select(*shown).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    ms = {r.trade_id: r.ms for r in b.select("trade_id", F.unix_millis("timestamp").alias("ms")).collect()}
    assert ms == {r["trade_id"]: r["timestamp"] for r in rows}


def test_replay_over_spark_written_leaf_leaves_one_file(spark, tmp_path):
    rows = _trades()
    out = tmp_path / "staging"
    _spark_staging_write(spark, rows, "tok", str(out))
    _write_batch(spark, rows, "tok", str(out))
    assert os.listdir(out / "batch_token=tok") == [BATCH_FILE]
    assert spark.read.parquet(str(out)).count() == len(rows)


def test_crash_before_rename_is_invisible(spark, tmp_path, monkeypatch):
    """A staging write that dies before ``os.replace`` (a replay of a
    written token and a new token) changes nothing Spark or a
    ``*.parquet`` glob sees; the next write of the token cleans up."""
    rows = _trades()
    first, second = rows[:20], rows[20:]
    out = tmp_path / "staging"
    _write_batch(spark, first, "a", str(out))

    def crash(*args):
        raise OSError("crash before rename")

    monkeypatch.setattr(rest_collector.os, "replace", crash)
    for token in ("a", "b"):
        with pytest.raises(OSError, match="before rename"):
            _write_batch(spark, second, token, str(out))
    monkeypatch.undo()

    want = sorted(r["trade_id"] for r in first)
    got = spark.read.parquet(str(out)).select("trade_id").collect()
    assert sorted(r.trade_id for r in got) == want
    with duckdb.connect() as con:
        got = con.execute(f"SELECT trade_id FROM read_parquet('{out}/*/*.parquet')").fetchall()
    assert sorted(r[0] for r in got) == want

    _write_batch(spark, second, "b", str(out))
    assert os.listdir(out / "batch_token=b") == [BATCH_FILE]
    assert spark.read.parquet(str(out)).count() == len(rows)


# --- §2.9: streaming with watermark dedup + idempotent sink ---
def _write_pages(spark, path, with_dup=False):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(240):
        rows.append(
            (f"T{i:05d}", base + dt.timedelta(seconds=30 * i), 0.5 + (i % 10) / 100.0, 1.0)
        )
    if with_dup:
        rows += rows[100:110]  # exact duplicate ids within watermark
    df = spark.createDataFrame(
        rows, "trade_id string, timestamp timestamp, iv double, amount double"
    )
    df.coalesce(2).write.mode("overwrite").parquet(path)
    return df


def test_stream_dedup_and_idempotent_sink(spark, tmp_path):
    src_path = str(tmp_path / "pages")
    _write_pages(spark, src_path, with_dup=True)
    schema = spark.read.parquet(src_path).schema
    stream = read_trade_stream(spark, src_path, schema)
    deduped = dedup_stream(stream, watermark_delay="30 minutes")
    q = write_stream_idempotent(
        deduped, str(tmp_path / "out"), str(tmp_path / "sckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 240  # duplicates dropped
    assert out.select("trade_id").distinct().count() == 240


def test_stream_dedup_keeps_first_arrival_unlike_final(spark, tmp_path):
    """Pins the documented difference: ``dedup_stream`` keeps the
    first-arriving version of a trade_id, FINAL (``dedup_latest``)
    keeps the latest, here a re-delivery 5 s later with a new price."""
    from gapless_deribit_clickhouse_spark.operators.dedup import dedup_latest

    src = str(tmp_path / "pages")
    schema = "trade_id string, timestamp timestamp, price double"
    base = dt.datetime(2024, 1, 1, 10)
    first = [("T1", base, 1.0), ("T2", base, 3.0)]
    redelivery = [("T1", base + dt.timedelta(seconds=5), 2.0)]
    spark.createDataFrame(first, schema).coalesce(1).write.mode("append").parquet(src)
    stream = read_trade_stream(spark, src, spark.read.parquet(src).schema)
    q = (
        dedup_stream(stream, watermark_delay="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("first_arrival_out")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(redelivery, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        streamed = spark.sql("SELECT trade_id, price FROM first_arrival_out").collect()
    finally:
        q.stop()
    assert sorted(map(tuple, streamed)) == [("T1", 1.0), ("T2", 3.0)]

    final = dedup_latest(spark.read.parquet(src), ["trade_id"], ["timestamp", "trade_id"])
    assert sorted(map(tuple, final.select("trade_id", "price").collect())) == [("T1", 2.0), ("T2", 3.0)]


def test_streaming_gap_monitor_stateful(spark, tmp_path):
    """Gaps are found both inside a micro-batch and ACROSS batches
    (state carries last_ts): two files forced into separate batches
    via maxFilesPerTrigger=1."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda secs, und: [  # noqa: E731
        (f"{und}{s}", und, base + dt.timedelta(seconds=s)) for s in secs
    ]
    ddl = "trade_id string, underlying string, timestamp timestamp"
    src = str(tmp_path / "gap_pages")
    # file 1: BTC steady except one 2h in-batch hole; ETH steady
    f1 = mk([0, 60, 120, 120 + 7200, 120 + 7260], "BTC") + mk(
        [0, 60, 120], "ETH"
    )
    # file 2: BTC resumes 3h after file 1's last event -> cross-batch gap
    last_btc = 120 + 7260
    f2 = mk([last_btc + 3 * 3600, last_btc + 3 * 3600 + 60], "BTC")
    spark.createDataFrame(f1, ddl).coalesce(1).write.parquet(src + "/p1")
    spark.createDataFrame(f2, ddl).coalesce(1).write.parquet(src + "/p2")

    stream = (
        spark.readStream.schema(spark.read.parquet(src + "/p1").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/p*")
    )
    gaps = streaming_gap_monitor(stream)
    q = (
        gaps.writeStream.outputMode("append")
        .format("memory")
        .queryName("gaps_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT * FROM gaps_out ORDER BY underlying, gap_start"
    ).toPandas()
    assert list(got.underlying) == ["BTC", "BTC"]  # ETH has no gap
    assert got.gap_hours.round(3).tolist() == [2.0, 3.0]
    assert (got.gap_end > got.gap_start).all()


def test_streaming_ohlc_windows(spark, tmp_path):
    src_path = str(tmp_path / "pages2")
    _write_pages(spark, src_path)
    schema = spark.read.parquet(src_path).schema
    stream = read_trade_stream(spark, src_path, schema)
    bars = streaming_ohlc(stream, window="15 minutes", watermark_delay="1 minute")
    q = (
        bars.writeStream.outputMode("append")
        .format("memory")
        .queryName("bars_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM bars_out").toPandas()
    # 240×30s = 2h -> 8 windows; append emits only watermark-closed ones
    assert len(got) >= 7
    assert (got.high >= got.low).all()
    assert (got.n_obs == 30).all()


def test_streaming_ohlc_drops_data_later_than_watermark(spark, tmp_path):
    """Late-data contract: an event arriving AFTER the watermark passed
    its window must be dropped — the closed bar is never re-emitted or
    duplicated (append-mode correctness under out-of-order arrival)."""
    src = str(tmp_path / "late_src")
    base = dt.datetime(2024, 1, 1)
    schema = "timestamp timestamp, iv double, amount double"

    # batch 1: one full 15-min window (3 obs) + a sentinel 2h ahead
    # that drags the watermark far past the window's end
    rows1 = [
        (base + dt.timedelta(minutes=m), 0.5 + m / 100, 1.0) for m in (1, 5, 9)
    ] + [(base + dt.timedelta(hours=2), 0.9, 1.0)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    bars = streaming_ohlc(stream, window="15 minutes", watermark_delay="1 minute")
    q = (
        bars.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("SELECT * FROM late_out").toPandas()
        closed = first[first.bucket_ts == base]
        assert len(closed) == 1 and closed.n_obs.iloc[0] == 3

        # batch 2: an event inside the ALREADY-CLOSED first window —
        # hours older than the current watermark
        rows2 = [(base + dt.timedelta(minutes=3), 0.99, 1.0)]
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        second = spark.sql("SELECT * FROM late_out").toPandas()
    finally:
        q.stop()

    # the late row must not resurrect the closed window: no duplicate
    # bar for it, original n_obs stands
    closed2 = second[second.bucket_ts == base]
    assert len(closed2) == 1 and closed2.n_obs.iloc[0] == 3


def test_streaming_sessionize_merging_windows(spark, tmp_path):
    import datetime as dt

    from gapless_deribit_clickhouse_spark.operators.sessionize import (
        streaming_sessionize,
    )

    src_path = str(tmp_path / "events_src")
    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: burst, 40-min silence, second burst; user 2: one burst
        *[(1, base + dt.timedelta(minutes=m)) for m in (0, 5, 10)],
        *[(1, base + dt.timedelta(minutes=m)) for m in (50, 55)],
        *[(2, base + dt.timedelta(minutes=m)) for m in (0, 20)],
        # late sentinel far ahead so the watermark closes all sessions
        (99, base + dt.timedelta(hours=6)),
    ]
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(1).write.parquet(src_path)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp").parquet(src_path)
    )
    sessions = streaming_sessionize(
        stream, gap="30 minutes", watermark_delay="1 minute"
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM sess_out")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    u1 = got[got.user_id == 1]
    assert u1.n_events.tolist() == [3, 2]  # gap split the stream
    assert got[got.user_id == 2].n_events.tolist() == [2]


def test_streaming_enrich_spot_stream_static_parity(spark, trades_df, spot_pdf, tmp_path):
    """Stream-static broadcast enrichment: because enrich_with_spot is
    pure DataFrame algebra, the SAME operator runs unchanged over a
    readStream source — Structured Streaming plans the broadcast spot
    dimension as a stream-static left join per micro-batch. The
    streaming output must equal the batch output row-for-row (the
    declarative-plan reuse the Spark-first design buys; reference
    spot_provider.py performs this lookup only in batch)."""
    from gapless_deribit_clickhouse_spark.features.spot_provider import (
        enrich_with_spot,
    )

    src = str(tmp_path / "enrich_src")
    trades_df.write.parquet(src)
    spot = spark.createDataFrame(spot_pdf)

    batch = enrich_with_spot(spark.read.parquet(src), spot)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    q = (
        enrich_with_spot(stream, spot)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = ["trade_id", "binance_spot", "spot_price", "moneyness"]
    got = (
        spark.sql("SELECT * FROM enrich_out")
        .select(*cols)
        .toPandas()
        .sort_values("trade_id")
        .reset_index(drop=True)
    )
    want = batch.select(*cols).toPandas().sort_values("trade_id").reset_index(drop=True)
    assert len(got) == len(want) == trades_df.count()
    pd.testing.assert_frame_equal(got, want)


def test_streaming_mergeable_rollup_state_versions(spark, tmp_path):
    """Materialized-view loop: per-batch partial rollup merged into a
    versioned state table. The newest finalized version must equal the
    one-pass batch recompute, and replaying an epoch's sink call must
    reproduce (not double-count) its version — the exactly-once
    contract versioned state buys on plain parquet."""
    import numpy as np

    from gapless_deribit_clickhouse_spark.operators.merge_rollup import (
        finalize_rollup,
        partial_rollup,
    )
    from gapless_deribit_clickhouse_spark.streaming.materialized import (
        read_rollup_state,
        rollup_state_sink,
        streaming_mergeable_rollup,
    )

    rng = np.random.RandomState(7)
    mk = lambda n, seed_off: [  # noqa: E731
        (["a", "b", "c"][i % 3], float(rng.uniform(0, 100)) + seed_off)
        for i in range(n)
    ]
    ddl = "k string, v double"
    src = str(tmp_path / "mv_src")
    rows1, rows2 = mk(60, 0.0), mk(45, 5.0)
    spark.createDataFrame(rows1, ddl).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(rows2, ddl).coalesce(1).write.parquet(src + "/f2")

    state = str(tmp_path / "mv_state")
    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src + "/*")
    )
    q = streaming_mergeable_rollup(
        stream, ["k"], "v", state, str(tmp_path / "mv_ckpt")
    )
    q.awaitTermination(120)

    # two state versions landed; the newest equals the batch recompute
    versions = sorted(
        spark.read.parquet(state).select("batch_id").distinct().toPandas().batch_id
    )
    assert versions == [0, 1]
    got = (
        read_rollup_state(spark, state, ["k"])
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    whole = spark.createDataFrame(rows1 + rows2, ddl)
    want = (
        finalize_rollup(partial_rollup(whole, ["k"], "v"), ["k"])
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # replay epoch 1: the sink re-reads version 0 (not its own output)
    # and overwrites version 1 with identical content
    rollup_state_sink(["k"], "v", state)(
        spark.createDataFrame(rows2, ddl), 1
    )
    again = (
        read_rollup_state(spark, state, ["k"])
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(again, want)


def test_streaming_dedup_then_ohlc_chained(spark, tmp_path):
    """TWO stateful operators in ONE streaming query — watermarked
    dedup feeding the watermarked tumbling-window OHLC — the chained
    shape a production pipeline runs (dedup at ingest, bars on the
    deduped feed) instead of landing an intermediate table. The
    duplicate rows must NOT inflate n_obs or volume in any bar."""
    src_path = str(tmp_path / "chain_src")
    _write_pages(spark, src_path, with_dup=True)
    schema = spark.read.parquet(src_path).schema
    stream = read_trade_stream(spark, src_path, schema)
    deduped = dedup_stream(stream, watermark_delay="30 minutes")
    bars = streaming_ohlc(deduped, window="15 minutes", watermark_delay=None)
    q = (
        bars.writeStream.outputMode("append")
        .format("memory")
        .queryName("chain_bars")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM chain_bars").toPandas()
    # 240 unique obs over 2h at 30s cadence -> closed 15-min bars
    # carry exactly 30 obs each despite the 10 duplicated trade_ids
    assert len(got) >= 4
    assert (got.n_obs == 30).all()
    assert (got.volume == 30.0).all()


def test_streaming_ewma_state_carries_across_batches(spark, tmp_path):
    """Streaming EWMA == batch fold over the concatenated series: the
    first batch seeds and folds, the second folds ON TOP of the stored
    state, and an out-of-order row at/behind the high-water mark is
    counted late and excluded from the recurrence."""
    import datetime as dtm

    from gapless_deribit_clickhouse_spark.streaming.ingest import streaming_ewma

    def ts(s):
        return dtm.datetime(2024, 1, 1, 12, 0, 0) + dtm.timedelta(seconds=s)

    schema = "user_id long, ts timestamp, value double"
    src = str(tmp_path / "ewma_src")
    b1 = [(1, ts(0), 10.0), (1, ts(30), 20.0), (2, ts(0), 5.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_ewma(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_live")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one new obs per user + one LATE duplicate timestamp
        b2 = [(1, ts(60), 30.0), (1, ts(30), 999.0), (2, ts(45), 7.0)]
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = spark.sql(
            "SELECT * FROM ewma_live"
        ).toPandas()
    finally:
        q.stop()

    # last update per user is the final state
    last = got.groupby("user_id").last()
    # user 1: seed 10 -> 10*.9+20*.1 = 11 -> 11*.9+30*.1 = 12.9
    assert last.loc[1, "ewma_value"] == pytest.approx(12.9)
    assert last.loc[1, "n_events"] == 3
    assert last.loc[1, "n_late"] == 1  # the ts(30) replay
    # user 2: seed 5 -> 5*.9 + 7*.1 = 5.2
    assert last.loc[2, "ewma_value"] == pytest.approx(5.2)
    assert last.loc[2, "n_events"] == 2


def test_streaming_ewma_key_type_follows_input(spark, tmp_path):
    """ADVICE r6: the output key field carries the INPUT key type (the
    old code hardcoded LongType, breaking string/symbol keys). Plan
    construction only — no query start needed to check the schema."""
    from pyspark.sql import types as T

    from gapless_deribit_clickhouse_spark.streaming.ingest import streaming_ewma

    schema = "user_id string, ts timestamp, value double"
    src = str(tmp_path / "ewma_str_src")
    spark.createDataFrame(
        [("BTC", dt.datetime(2024, 1, 1), 1.0)], schema
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_ewma(stream)
    assert out.schema["user_id"].dataType == T.StringType()


def test_streaming_ewma_string_key_end_to_end(spark, tmp_path):
    """The string-key fold actually runs (the old hardcoded schema
    produced nulls/Arrow errors at runtime for non-long keys)."""
    from gapless_deribit_clickhouse_spark.streaming.ingest import streaming_ewma

    schema = "user_id string, ts timestamp, value double"
    src = str(tmp_path / "ewma_str_e2e")
    rows = [
        ("BTC", dt.datetime(2024, 1, 1, 12, 0, 0), 10.0),
        ("BTC", dt.datetime(2024, 1, 1, 12, 0, 30), 20.0),
        ("ETH", dt.datetime(2024, 1, 1, 12, 0, 0), 5.0),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_ewma(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_str_live")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: r
            for r in spark.sql("SELECT * FROM ewma_str_live").collect()
        }
    finally:
        q.stop()
    assert got["BTC"]["ewma_value"] == pytest.approx(10.0 * 0.9 + 20.0 * 0.1)
    assert got["ETH"]["ewma_value"] == pytest.approx(5.0)


def test_rollup_state_corrupt_state_fails_not_truncates(spark, tmp_path):
    """ADVICE r6: only a MISSING state directory means 'first batch'.
    Any other read error must raise (fail the micro-batch for retry),
    never silently rebuild state from the current batch alone."""
    from pyspark.errors import AnalysisException

    from gapless_deribit_clickhouse_spark.streaming.materialized import (
        _latest_version_before,
    )

    missing = str(tmp_path / "nope")
    assert _latest_version_before(spark, missing, batch_id=3) is None

    # a directory that EXISTS but holds no readable parquet -> the
    # reader raises (a JVM RuntimeException here, AnalysisException
    # for schema-inference failures elsewhere) and the sink must let
    # it propagate rather than return None ("first batch")
    corrupt = tmp_path / "corrupt_state"
    corrupt.mkdir()
    (corrupt / "garbage.txt").write_text("not parquet")
    with pytest.raises(Exception) as exc_info:
        _latest_version_before(spark, str(corrupt), batch_id=3)
    assert exc_info.value is not None

    # the classifier itself: only missing-path AnalysisExceptions are
    # treated as first-batch
    from gapless_deribit_clickhouse_spark.streaming.materialized import (
        _is_missing_path,
    )

    assert _is_missing_path(AnalysisException("[PATH_NOT_FOUND] Path does not exist: /x"))
    assert not _is_missing_path(AnalysisException("[UNABLE_TO_INFER_SCHEMA] bad"))
