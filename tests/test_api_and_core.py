"""API contract, dedup semantics, instrument parser, validation layer."""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import tempfile
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from conftest import TRADES_SCHEMA, make_trades_pdf
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.api import describe, fetch_trades
from gapless_deribit_clickhouse_spark.exceptions import (
    InstrumentParseError,
    QueryError,
    SchemaError,
)
from gapless_deribit_clickhouse_spark.functions.instrument import (
    format_instrument_col,
    is_valid_instrument,
    parse_instrument,
    with_parsed_instrument,
)
from gapless_deribit_clickhouse_spark.operators.dedup import dedup_latest
from gapless_deribit_clickhouse_spark.schema.ddl import write_table
from gapless_deribit_clickhouse_spark.schema.loader import load_schema
from gapless_deribit_clickhouse_spark.validation import (
    check_dedup_invariant,
    coverage_by_group,
    gap_analysis,
    quality_metrics,
)


# --- fetch_trades parameter contract (reference api.py:29-64) ---
def test_fetch_requires_a_bound(trades_df):
    with pytest.raises(QueryError):
        fetch_trades(trades_df)
    with pytest.raises(QueryError):
        fetch_trades(trades_df, start="  ")
    with pytest.raises(QueryError):
        fetch_trades(trades_df, limit=0)
    with pytest.raises(QueryError):
        fetch_trades(trades_df, start="2024-12-02", end="2024-12-01")
    # outside the contract: fail at call time, not as an empty result
    # or a cast error when the plan runs
    with pytest.raises(QueryError):
        fetch_trades(trades_df, option_type="call", limit=1)
    with pytest.raises(QueryError):
        fetch_trades(trades_df, expiry="27DEC24", limit=1)
    with pytest.raises(QueryError):
        fetch_trades(trades_df, underlying="btc", limit=1)
    for bad_limit in (2.5, True, "5", -1):
        with pytest.raises(QueryError):
            fetch_trades(trades_df, limit=bad_limit)
    # strike: a real number (not bool), finite, at least the schema minimum
    for bad_strike in ("abc", "50000", True, -5.0, float("nan"), float("inf")):
        with pytest.raises(QueryError):
            fetch_trades(trades_df, strike=bad_strike, limit=1)
    for ok_strike in (0, 100000, 100000.0, np.float64(100000.0)):
        fetch_trades(trades_df, strike=ok_strike, limit=1)


def test_fetch_rejects_unparseable_timestamp(trades_df):
    with pytest.raises(QueryError, match="unparseable timestamp"):
        fetch_trades(trades_df, start="yesterday")


def test_fetch_desc_order_and_limit(trades_df):
    out = fetch_trades(trades_df, underlying="BTC", limit=10).toPandas()
    assert len(out) == 10
    ts = out.timestamp.tolist()
    assert ts == sorted(ts, reverse=True)


def test_fetch_day_inclusive_end(trades_df):
    # date-only end expands to next midnight (reference api.py:67-97)
    out = fetch_trades(trades_df, start="2024-12-01", end="2024-12-01")
    assert out.count() == trades_df.count()  # all fixture trades are on 12-01
    # a same-day start with a time of day is inside that day's range
    late = fetch_trades(trades_df, start="2024-12-01 11:00:00", end="2024-12-01")
    want = trades_df.filter(F.col("timestamp") >= dt.datetime(2024, 12, 1, 11)).count()
    assert 0 < want < trades_df.count()
    assert late.count() == want


def test_fetch_equality_predicates(trades_df):
    out = fetch_trades(trades_df, option_type="P", start="2024-12-01").toPandas()
    assert (out.option_type == "P").all()


def test_dedup_keeps_latest(spark):
    rows = [
        ("t1", dt.datetime(2024, 1, 1, 10), 1.0),
        ("t1", dt.datetime(2024, 1, 1, 11), 2.0),
        ("t2", dt.datetime(2024, 1, 1, 9), 3.0),
    ]
    df = spark.createDataFrame(rows, "trade_id string, timestamp timestamp, price double")
    out = dedup_latest(df, ["trade_id"], ["timestamp"]).toPandas().set_index("trade_id")
    assert len(out) == 2
    assert out.loc["t1"].price == 2.0


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_compact_table_partition_selective(spark, tmp_path):
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table

    path = str(tmp_path / "fact")
    rows = [
        # month 202401: t1 duplicated (keep ts=11h / price=2.0)
        ("t1", dt.datetime(2024, 1, 1, 10), 1.0, "202401"),
        ("t1", dt.datetime(2024, 1, 1, 11), 2.0, "202401"),
        ("t2", dt.datetime(2024, 1, 2, 9), 3.0, "202401"),
        # month 202402: t3 duplicated — left alone by the selective pass
        ("t3", dt.datetime(2024, 2, 1, 10), 4.0, "202402"),
        ("t3", dt.datetime(2024, 2, 1, 12), 5.0, "202402"),
    ]
    df = spark.createDataFrame(
        rows, "trade_id string, timestamp timestamp, price double, trade_month string"
    )
    df.write.partitionBy("trade_month").parquet(path)

    stats = compact_table(
        spark, path, keys=["trade_id"], version_cols=["timestamp"],
        partition_cols=["trade_month"],
        only_partitions=[{"trade_month": "202401"}],
        sort_within_partitions=["timestamp"],
    )
    assert stats["removed"] == 1 and stats["rows_after"] == 2
    back = spark.read.parquet(path).toPandas()
    assert len(back) == 4  # 202402 dup untouched
    assert back[back.trade_id == "t1"].price.tolist() == [2.0]

    # an empty selection touches nothing (None means the whole table)
    stats = compact_table(
        spark, path, keys=["trade_id"], version_cols=["timestamp"],
        partition_cols=["trade_month"], only_partitions=[],
    )
    assert stats == {"rows_before": 0, "rows_after": 0, "removed": 0, "partitions": []}
    assert len(spark.read.parquet(path).toPandas()) == 4

    # so does a whole-table compaction of a table with no partition
    # leaf: a path never written, and one whose only append was empty
    # (its root holds _SUCCESS and its checksum, no directory)
    never = str(tmp_path / "never_written")
    emptied = str(tmp_path / "empty_append")
    write_table(spark.createDataFrame([], schema=TRADES_SCHEMA), load_schema("options_trades"), emptied)
    assert sorted(p.name for p in Path(emptied).iterdir()) == ["._SUCCESS.crc", "_SUCCESS"]
    for empty in (never, emptied):
        stats, jobs = _jobs(spark, lambda: compact_table(spark, empty, **_TRADES_KW))
        assert stats == {"rows_before": 0, "rows_after": 0, "removed": 0, "partitions": []}
        assert jobs == 0

    stats = compact_table(
        spark, path, keys=["trade_id"], version_cols=["timestamp"],
        partition_cols=["trade_month"],
    )
    assert stats["removed"] == 1
    back = spark.read.parquet(path).toPandas().set_index("trade_id")
    assert len(back) == 3
    assert back.loc["t3"].price == 5.0


def test_compact_table_unpartitioned(spark, tmp_path):
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table

    path = str(tmp_path / "flat")
    rows = [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)]
    spark.createDataFrame(rows, "k string, v int, x double").write.parquet(path)
    stats, jobs = _jobs(spark, lambda: compact_table(spark, path, keys=["k"], version_cols=["v"]))
    assert stats == {
        "rows_before": 3, "rows_after": 2, "removed": 1, "partitions": ["."],
    }
    # schema inference, the shuffle map stage and the write: the stats
    # ride on the write job instead of two count() jobs
    assert 0 < jobs <= 3
    got = spark.read.parquet(path).toPandas().set_index("k")
    assert got.loc["a"].x == 2.0


_FACT_DDL = "trade_id string, timestamp timestamp, price double, trade_month string"
# the layout ``_FACT_DDL`` rows land in through ``write_table``
_FACT = dataclasses.replace(
    load_schema("options_trades"), partition_by=("trade_month",),
    sort_within_partitions=("timestamp",), dedup_version=("timestamp",),
)


def test_compact_table_all_losers_partition(spark, tmp_path):
    """A touched partition whose rows all lose to winners in another
    partition (a re-delivery that crossed the month boundary) is
    swapped for nothing, not left holding the loser."""
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table

    path = str(tmp_path / "fact")
    rows = [
        ("t1", dt.datetime(2024, 1, 31, 23, 59, 59), 1.0, "202401"),
        ("t1", dt.datetime(2024, 2, 1, 0, 0, 1), 2.0, "202402"),
        ("t2", dt.datetime(2024, 2, 2, 9), 3.0, "202402"),
    ]
    spark.createDataFrame(rows, _FACT_DDL).write.partitionBy("trade_month").parquet(path)
    stats = compact_table(
        spark, path, keys=["trade_id"], version_cols=["timestamp"], partition_cols=["trade_month"],
    )
    back = spark.read.parquet(path).toPandas()
    assert back.trade_id.is_unique and len(back) == 2
    assert back.set_index("trade_id").loc["t1"].price == 2.0
    assert stats["removed"] == 1
    assert stats["partitions"] == ["trade_month=202401", "trade_month=202402"]
    # a selector on a data column would swap in a partial partition
    with pytest.raises(ValueError, match="outside partition_cols"):
        compact_table(
            spark, path, keys=["trade_id"], version_cols=["timestamp"],
            partition_cols=["trade_month"], only_partitions=[{"trade_id": "t1"}],
        )


def _fault_rows():
    """Rows over three month partitions with in-partition re-deliveries
    and one all-losers partition (202312), and the expected winners."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        ts = base + dt.timedelta(days=i, hours=i % 7)
        rows.append((f"t{i:02d}", ts, float(i)))
        if i % 4 == 0:  # re-delivered 1 s later with a revised price
            rows.append((f"t{i:02d}", ts + dt.timedelta(seconds=1), i + 0.5))
    # t_x's first version is alone in 202312; its winner lands in 202401
    rows.append(("t_x", base - dt.timedelta(seconds=1), -1.0))
    rows.append(("t_x", base + dt.timedelta(seconds=1), -2.0))
    rows = [(k, ts, p, ts.strftime("%Y%m")) for k, ts, p in rows]
    winners = {}
    for r in rows:
        if r[0] not in winners or r[1] > winners[r[0]][1]:
            winners[r[0]] = r
    return rows, sorted(winners.values())


def _fact_rows(spark, path):
    return spark.read.parquet(path).select(
        "trade_id", "timestamp", "price", F.col("trade_month").cast("string")
    )


class _Crash(Exception):
    pass


def _leaf_marks(path, depth: int = 1) -> dict[str, str | None]:
    """Each partition leaf's ``clean_mark``, checking on the way that a
    marker validates a leaf only while it lists exactly the leaf's
    parquet files."""
    from gapless_deribit_clickhouse_spark.operators.dedup import CLEAN_MARKER, clean_mark

    marks = {}
    for leaf in sorted(Path(path).glob("/".join(["*=*"] * depth))):
        mark = marks[str(leaf.relative_to(path))] = clean_mark(leaf)
        if mark is not None:
            listed = json.loads((leaf / CLEAN_MARKER).read_text())["files"]
            assert listed == sorted(f.name for f in leaf.glob("*.parquet")), leaf
    return marks


def test_compact_table_recovers_from_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """Crash the compaction at each rename and rmtree it makes, then
    rerun it: every trade_id survives exactly once, as its winner, and
    no aside or staging copy is left. After the recovery pass rolls the
    swap back or forward, no marker validates a leaf whose files
    differ from its list, and after the rerun one marker id covers the
    table."""
    import os
    import shutil

    from gapless_deribit_clickhouse_spark.operators.dedup import CLEAN_MARKER, compact_table

    rows, want = _fault_rows()
    calls, crash_at = [], [0]

    def failing(real):
        def op(*args, **kwargs):
            calls.append(real.__name__)
            if len(calls) == crash_at[0]:
                raise _Crash(f"{real.__name__} #{crash_at[0]}")
            return real(*args, **kwargs)
        return op

    monkeypatch.setattr(os, "rename", failing(os.rename))
    monkeypatch.setattr(shutil, "rmtree", failing(shutil.rmtree))
    kwargs = dict(keys=["trade_id"], version_cols=["timestamp"], partition_cols=["trade_month"])

    def compact(path):
        calls.clear()
        return compact_table(spark, path, sort_within_partitions=["timestamp"], **kwargs)

    def fresh(name):
        """Each trade's first version landed by ``write_table`` (its
        leaves marked clean), the re-deliveries appended as plain files
        (the leaves they reach keep a stale marker)."""
        path = tmp_path / name / "fact"
        firsts, later, seen = [], [], set()
        for r in rows:
            (later if r[0] in seen else firsts).append(r)
            seen.add(r[0])
        write_table(spark.createDataFrame(firsts, _FACT_DDL), _FACT, str(path))
        spark.createDataFrame(later, _FACT_DDL).write.mode("append").partitionBy("trade_month").parquet(str(path))
        return path

    path = fresh("clean")
    marks = _leaf_marks(path)
    stale = [leaf for leaf, mark in marks.items() if mark is None and (path / leaf / CLEAN_MARKER).exists()]
    assert stale and set(marks.values()) - {None}
    compact(str(path))
    steps = len(calls)
    assert calls.count("rename") >= 5  # two leaves renamed aside and in, one aside only
    for n in range(1, steps + 1):
        path = fresh(f"crash{n}")
        crash_at[0] = n
        with pytest.raises(_Crash):
            compact(str(path))
        crash_at[0] = 0
        compact_table(spark, str(path), only_partitions=[], **kwargs)  # the recovery pass alone
        _leaf_marks(path)
        compact(str(path))
        got = _fact_rows(spark, str(path))
        assert got.select("trade_id").distinct().count() == len(want), f"crash at step {n}"
        assert sorted(map(tuple, got.collect())) == want, f"crash at step {n}"
        assert not any(p.name.endswith(("__old", "__compacting")) for p in path.parent.iterdir())
        marks = set(_leaf_marks(path).values())
        assert len(marks) == 1 and None not in marks, f"crash at step {n}"


def test_compact_table_recovery_keeps_rows_written_after_a_crash(spark, tmp_path, monkeypatch):
    """A crash right after a partition with a staged leaf was renamed
    aside, then an append into that partition before the rerun: the
    restored old rows and the appended rows are both kept."""
    import os

    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table

    rows, want = _fault_rows()
    path = str(tmp_path / "fact")
    spark.createDataFrame(rows, _FACT_DDL).write.partitionBy("trade_month").parquet(path)
    real_rename = os.rename

    def crash_after_202401_aside(src, dst):
        real_rename(src, dst)
        if str(dst).endswith("__old/trade_month=202401"):
            raise _Crash("after rename aside")

    kwargs = dict(keys=["trade_id"], version_cols=["timestamp"], partition_cols=["trade_month"])
    monkeypatch.setattr(os, "rename", crash_after_202401_aside)
    with pytest.raises(_Crash):
        compact_table(spark, path, **kwargs)
    monkeypatch.undo()
    assert not (tmp_path / "fact" / "trade_month=202401").exists()
    late = [("t_late", dt.datetime(2024, 1, 15, 12), 9.0, "202401")]
    spark.createDataFrame(late, _FACT_DDL).write.mode("append").partitionBy("trade_month").parquet(path)
    compact_table(spark, path, **kwargs)
    got = _fact_rows(spark, path)
    assert sorted(map(tuple, got.collect())) == sorted(want + late)


_TRADES_KW = dict(
    keys=["trade_id"], version_cols=["timestamp", "trade_id"],
    partition_cols=["underlying", "trade_month"], sort_within_partitions=["expiry", "timestamp"],
)


def _trade_rows(df):
    return sorted(map(tuple, df.select(*TRADES_SCHEMA.names).collect()))


def test_append_lands_deduplicated_and_marks_new_leaves(spark, tmp_path):
    """An append keeps each trade's winner within the batch and marks
    the leaves it created with one id; compacting them launches no
    Spark job and reads its stats from the parquet footers."""
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table

    schema, path = load_schema("options_trades"), str(tmp_path / "options_trades")
    batch = spark.createDataFrame(_redelivered_trades_pdf(), schema=TRADES_SCHEMA)
    write_table(batch, schema, path)
    table = spark.read.parquet(path)
    assert _trade_rows(table) == _trade_rows(dedup_latest(batch, ["trade_id"], ["timestamp", "trade_id"]))
    # TRD-Y's November version lost inside the batch: no November leaf
    marks = _leaf_marks(path, depth=2)
    assert sorted(marks) == ["underlying=BTC/trade_month=202412", "underlying=ETH/trade_month=202412"]
    assert len(set(marks.values())) == 1 and None not in marks.values()
    stats, jobs = _jobs(spark, lambda: compact_table(spark, path, **_TRADES_KW))
    assert jobs == 0
    assert stats == {"rows_before": table.count(), "rows_after": table.count(), "removed": 0, "partitions": []}


def test_compact_table_skips_only_a_selection_one_dedup_pass_covered(spark, tmp_path):
    """TRD-Y's first version lands in a November leaf with one append,
    its winner in a new December leaf with the next. Compacting
    December alone launches no job; compacting both (two marker ids)
    runs and evicts the November version. FINAL reads equal a
    whole-table dedup before and after."""
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table

    schema, path = load_schema("options_trades"), str(tmp_path / "options_trades")
    pdf = _redelivered_trades_pdf()
    november = pdf.timestamp < pd.Timestamp("2024-12-01")
    assert set(pdf[november].trade_id) == {"TRD-Y"}
    for part in (pdf[november], pdf[~november]):
        write_table(spark.createDataFrame(part, schema=TRADES_SCHEMA), schema, path)
    cases = [
        dict(underlying="BTC", end="2024-12-01", limit=50),
        dict(underlying="BTC", start="2024-11-30", end="2024-12-01"),
        dict(underlying="BTC", start="2024-11-30", end="2024-11-30"),
    ]

    def final_matches_whole_table_dedup():
        table = spark.read.parquet(path)
        whole = dedup_latest(table, keys=["trade_id"], version_cols=["timestamp", "trade_id"])
        for args in cases:
            assert fetch_trades(table, **args).collect() == fetch_trades(whole, use_final=False, **args).collect()
        return table.filter(F.col("trade_id") == "TRD-Y").count()

    assert final_matches_whole_table_dedup() == 2
    nov = {"underlying": "BTC", "trade_month": "202411"}
    dec = {"underlying": "BTC", "trade_month": "202412"}
    stats, jobs = _jobs(spark, lambda: compact_table(spark, path, only_partitions=[dec], **_TRADES_KW))
    in_dec = spark.read.parquet(path).filter("underlying = 'BTC' AND trade_month = '202412'").count()
    assert jobs == 0
    assert stats == {"rows_before": in_dec, "rows_after": in_dec, "removed": 0, "partitions": []}
    stats, jobs = _jobs(spark, lambda: compact_table(spark, path, only_partitions=[nov, dec], **_TRADES_KW))
    assert jobs > 0 and stats["removed"] == 1
    assert stats["partitions"] == ["underlying=BTC/trade_month=202411", "underlying=BTC/trade_month=202412"]
    assert final_matches_whole_table_dedup() == 1


def test_compact_table_compacts_a_clean_leaf_again_after_a_plain_append(spark, tmp_path):
    """A file a plain Spark append adds to a marked leaf leaves the
    marker stale, so the next compaction runs."""
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table
    from gapless_deribit_clickhouse_spark.schema.ddl import with_partition_columns

    schema, path = load_schema("options_trades"), str(tmp_path / "options_trades")
    pdf = make_trades_pdf()
    write_table(spark.createDataFrame(pdf, schema=TRADES_SCHEMA), schema, path)
    later = pdf.iloc[::5].assign(timestamp=lambda d: d.timestamp + pd.Timedelta(seconds=1), price=lambda d: d.price + 1)
    late = with_partition_columns(spark.createDataFrame(later, schema=TRADES_SCHEMA), schema)
    late.write.mode("append").partitionBy(*schema.partition_by).parquet(path)
    stats, jobs = _jobs(spark, lambda: compact_table(spark, path, **_TRADES_KW))
    assert jobs > 0
    assert stats == {
        "rows_before": len(pdf) + len(later), "rows_after": len(pdf), "removed": len(later),
        "partitions": ["underlying=BTC/trade_month=202412"],
    }
    got = spark.read.parquet(path).toPandas().set_index("trade_id")
    assert got.loc[later.trade_id, "price"].tolist() == later.price.tolist()


def test_append_crash_before_the_markers_then_a_rerun_keeps_the_winners(spark, tmp_path, monkeypatch):
    """An append that dies after its data write and before its
    markers, then the batch replayed and the table compacted: exactly
    the winners remain. The replay lands in leaves it did not create,
    so it marks none of them and the compaction runs."""
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table
    from gapless_deribit_clickhouse_spark.schema import ddl

    schema, path = load_schema("options_trades"), str(tmp_path / "options_trades")
    batch = spark.createDataFrame(_redelivered_trades_pdf(), schema=TRADES_SCHEMA)
    winners = _trade_rows(dedup_latest(batch, ["trade_id"], ["timestamp", "trade_id"]))

    def crash(*args):
        raise _Crash("before the markers")

    monkeypatch.setattr(ddl, "mark_clean", crash)
    with pytest.raises(_Crash):
        write_table(batch, schema, path)
    monkeypatch.undo()
    assert set(_leaf_marks(path, depth=2).values()) == {None}
    write_table(batch, schema, path)
    stats = compact_table(spark, path, **_TRADES_KW)
    assert stats["removed"] == len(winners)
    assert _trade_rows(spark.read.parquet(path)) == winners


def test_one_writer_per_table(spark, tmp_path, monkeypatch):
    """``write_table`` and ``compact_table`` assume one writer per
    table. An append that lands in a leaf after the compaction read it
    and before the swap is deleted with the leaf's old copy; the same
    append after ``compact_table`` returns is kept."""
    from gapless_deribit_clickhouse_spark.operators import dedup

    rows, want = _fault_rows()
    path = str(tmp_path / "fact")
    spark.createDataFrame(rows, _FACT_DDL).write.partitionBy("trade_month").parquet(path)
    late = [("t_late", dt.datetime(2024, 1, 15, 12), 9.0, "202401")]
    real_mark = dedup.mark_clean

    def append_then_mark(root, leaves):
        write_table(spark.createDataFrame(late, _FACT_DDL), _FACT, path)
        real_mark(root, leaves)

    kwargs = dict(keys=["trade_id"], version_cols=["timestamp"], partition_cols=["trade_month"])
    monkeypatch.setattr(dedup, "mark_clean", append_then_mark)
    dedup.compact_table(spark, path, **kwargs)
    monkeypatch.undo()
    assert sorted(map(tuple, _fact_rows(spark, path).collect())) == want
    write_table(spark.createDataFrame(late, _FACT_DDL), _FACT, path)
    assert sorted(map(tuple, _fact_rows(spark, path).collect())) == sorted(want + late)


def test_use_final_flag(spark):
    rows = [("t1", dt.datetime(2024, 1, 1, 10), 1.0), ("t1", dt.datetime(2024, 1, 1, 11), 2.0)]
    df = spark.createDataFrame(rows, "trade_id string, timestamp timestamp, price double")
    df = (
        df.withColumn("underlying", F.lit("BTC"))
        .withColumn("option_type", F.lit("C"))
        .withColumn("expiry", F.lit("2024-02-01").cast("date"))
        .withColumn("strike", F.lit(1.0))
    )
    assert fetch_trades(df, limit=10, use_final=True).count() == 1
    assert fetch_trades(df, limit=10, use_final=False).count() == 2


def _redelivered_trades_pdf() -> pd.DataFrame:
    """The fixture's BTC trades on 2024-12-01, an ETH copy, and
    re-deliveries (a later timestamp, a revised price): every tenth BTC
    trade a minute later; TRD-Y, first seen in November, again in
    December (the next ``trade_month``); TRD-Z, first seen late on
    12-01, again on 12-02 (after a date-only ``end`` of 12-01)."""
    btc = make_trades_pdf()
    eth = make_trades_pdf(seed=7).assign(
        trade_id=lambda d: "E" + d.trade_id,
        instrument_name=lambda d: d.instrument_name.str.replace("BTC-", "ETH-"),
        underlying="ETH",
    )

    def version(i, trade_id, ts):
        return btc.iloc[[i]].assign(
            trade_id=trade_id, timestamp=pd.Timestamp(ts), price=btc.price.iloc[i] + 0.01
        )

    return pd.concat(
        [
            btc,
            eth,
            btc.iloc[::10].assign(
                timestamp=lambda d: d.timestamp + pd.Timedelta(minutes=1),
                price=lambda d: d.price + 0.01,
            ),
            version(0, "TRD-Y", "2024-11-30 23:59:30"),
            version(0, "TRD-Y", "2024-12-01 00:00:30"),
            version(1, "TRD-Z", "2024-12-01 23:59:00"),
            version(1, "TRD-Z", "2024-12-02 00:01:00"),
        ],
        ignore_index=True,
    )


def _nodes_below_window(df):
    """The nodes below a Window of ``df``'s executed plan, through the
    adaptive-execution wrappers."""
    found, stack = [], [(df._jdf.queryExecution().executedPlan(), False)]
    while stack:
        node, below = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), below))
            continue
        if name.endswith("QueryStageExec"):
            stack.append((node.plan(), below))
            continue
        if below:
            found.append(node)
        below = below or name == "WindowExec"
        children = node.children()
        stack.extend((children.apply(i), below) for i in range(children.size()))
    return found


def test_final_pushdown_matches_whole_table_dedup(spark, tmp_path):
    """FINAL filters on the trade's invariant columns below the dedup
    window and on ``timestamp`` above it: every result equals a
    whole-table ``dedup_latest`` followed by the same filters, and a
    later version (in the next month, or after ``end``) still evicts
    the earlier one."""
    path = str(tmp_path / "options_trades")
    pdf = _redelivered_trades_pdf()
    # overwrite lands the superseded versions too (an append dedups)
    write_table(spark.createDataFrame(pdf, schema=TRADES_SCHEMA), load_schema("options_trades"), path,
                mode="overwrite")
    table = spark.read.parquet(path)
    whole = dedup_latest(table, keys=["trade_id"], version_cols=["timestamp"])
    z = pdf[pdf.trade_id == "TRD-Z"].iloc[0]
    cases = {
        "point": dict(underlying="BTC", expiry=z.expiry.isoformat(), strike=z.strike,
                      option_type=z.option_type, start="2024-12-01", end="2024-12-01"),
        "latest": dict(underlying="BTC", end="2024-12-01", limit=50),
        "range": dict(underlying="BTC", start="2024-11-30", end="2024-12-01"),
        "range_november": dict(underlying="BTC", start="2024-11-30", end="2024-11-30"),
    }
    got = {name: fetch_trades(table, **args).collect() for name, args in cases.items()}
    for name, args in cases.items():
        assert got[name] == fetch_trades(whole, use_final=False, **args).collect(), name
    assert len(got["point"]) > 0 and len(got["latest"]) == 50

    def ids(rows):
        return {r.trade_id for r in rows}

    # the superseded versions are there to leak: without FINAL they show
    raw = {name: fetch_trades(table, use_final=False, **args).collect() for name, args in cases.items()}
    for name in ("point", "latest"):
        assert "TRD-Z" in ids(raw[name]) and "TRD-Z" not in ids(got[name]), name
    assert ids(raw["range_november"]) == {"TRD-Y"} and got["range_november"] == []

    below = _nodes_below_window(fetch_trades(table, **cases["point"]))
    scans = [n for n in below if n.getClass().getSimpleName() == "FileSourceScanExec"]
    assert scans and all("underlying" in n.partitionFilters().toString() for n in scans)
    conditions = [n.condition().toString() for n in below if n.getClass().getSimpleName() == "FilterExec"]
    conditions += [n.dataFilters().toString() for n in scans]
    assert conditions and not any("timestamp" in c for c in conditions)


_T0 = dt.datetime(2024, 11, 30, 23, 59, 58)


@st.composite
def _landed_batches(draw):
    """1-4 batches of versions of five trades (three BTC, two ETH), as
    (trade, seconds after ``_T0``, price step): versions tie on
    ``timestamp`` (the price breaks the tie), a trade comes again in
    the same batch or a later one, and seconds 2-3 cross into
    December."""
    version = st.tuples(st.integers(0, 4), st.integers(0, 3), st.integers(0, 2))
    return draw(st.lists(st.lists(version, min_size=1, max_size=6), min_size=1, max_size=4))


def _version_rows(batch):
    rows = []
    for trade, seconds, step in batch:
        und, strike = ("BTC" if trade < 3 else "ETH"), 1000.0 * (trade + 1)
        rows.append((
            f"T{trade}", f"{und}-27DEC24-{int(strike)}-C", _T0 + dt.timedelta(seconds=seconds),
            0.01 * (1 + step), 1.0, "buy", 50.0, None, None, und, dt.date(2024, 12, 27), strike, "C",
        ))
    return rows


@given(batches=_landed_batches())
@settings(max_examples=6, deadline=None)
def test_deduplicated_appends_match_plain_appends(spark, batches):
    """The same batches landed by ``write_table(mode="append")`` and
    as plain parquet appends: FINAL point and latest-N reads agree
    before any compaction, and after ``compact_table()`` the two
    tables hold identical rows."""
    from gapless_deribit_clickhouse_spark.operators.dedup import compact_table
    from gapless_deribit_clickhouse_spark.schema.ddl import with_partition_columns

    schema = load_schema("options_trades")
    queries = [
        dict(underlying="BTC", expiry="2024-12-27", strike=1000.0, option_type="C",
             start="2024-11-30", end="2024-12-01"),
        dict(underlying="BTC", end="2024-12-01", limit=2),
        dict(underlying="ETH", end="2024-12-01", limit=1),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        deduped, plain = os.path.join(tmp, "deduped"), os.path.join(tmp, "plain")
        for batch in batches:
            df = spark.createDataFrame(_version_rows(batch), schema=TRADES_SCHEMA)
            write_table(df, schema, deduped)
            with_partition_columns(df, schema).write.mode("append").partitionBy(*schema.partition_by).parquet(plain)
        for q in queries:
            assert (fetch_trades(spark.read.parquet(deduped), **q).collect()
                    == fetch_trades(spark.read.parquet(plain), **q).collect()), q
        for path in (deduped, plain):
            compact_table(spark, path, **_TRADES_KW)
        assert _trade_rows(spark.read.parquet(deduped)) == _trade_rows(spark.read.parquet(plain))


def test_check_dedup_invariant(spark):
    """Re-deliveries that keep their instrument pass; a trade_id whose
    versions name two instruments raises, naming that trade_id."""
    schema = load_schema("options_trades")
    pdf = _redelivered_trades_pdf()
    check_dedup_invariant(spark.createDataFrame(pdf, schema=TRADES_SCHEMA), schema)
    moved = pdf[pdf.trade_id == "TRD-000003"].assign(
        timestamp=lambda d: d.timestamp + pd.Timedelta(minutes=5),
        instrument_name=lambda d: d.instrument_name.str[:-1] + "X",
    )
    bad = spark.createDataFrame(pd.concat([pdf, moved], ignore_index=True), schema=TRADES_SCHEMA)
    with pytest.raises(SchemaError, match=r"disagree on instrument_name.*: TRD-000003$"):
        check_dedup_invariant(bad, schema)


# --- instrument parser (reference tests/test_instrument_parser.py) ---
def test_parse_roundtrip_all_months():
    for i, mon in enumerate(
        ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"], 1
    ):
        name = f"BTC-7{mon}25-100000-C"
        inst = parse_instrument(name)
        assert inst.expiry.month == i and inst.expiry.day == 7
        assert inst.format() == name


def test_parse_single_and_double_digit_days():
    assert parse_instrument("ETH-1JAN25-3000-P").expiry.day == 1
    assert parse_instrument("ETH-27DEC24-3000-C").expiry.day == 27


def test_parse_invalid_inputs():
    for bad in ("", "BTC", "BTC-99XYZ25-1-C", "BTC-27DEC24-1000-X", "btc-27dec24-1000-c"):
        assert not is_valid_instrument(bad)
        with pytest.raises(InstrumentParseError):
            parse_instrument(bad)


def test_parse_rejects_impossible_date():
    # well-formed name, real month, but no 31 February
    assert not is_valid_instrument("BTC-31FEB25-100000-C")
    with pytest.raises(InstrumentParseError, match="invalid date"):
        parse_instrument("BTC-31FEB25-100000-C")


def test_column_parser_matches_scalar(spark):
    names = ["BTC-27DEC24-100000-C", "ETH-7MAR25-3000-P", "garbage", "BTC-1JAN25-50000-P"]
    df = spark.createDataFrame([(n,) for n in names], "instrument_name string")
    out = with_parsed_instrument(df).toPandas()
    for _, row in out.iterrows():
        if is_valid_instrument(row.instrument_name):
            inst = parse_instrument(row.instrument_name)
            assert row.underlying == inst.underlying
            assert row.expiry == inst.expiry
            assert row.strike == inst.strike
            assert row.option_type == inst.option_type
        else:
            assert pd.isna(row.underlying)


def test_format_instrument_col_roundtrip(spark, trades_df):
    out = trades_df.select(
        "instrument_name",
        format_instrument_col(
            F.col("underlying"), F.col("expiry"), F.col("strike"), F.col("option_type")
        ).alias("formatted"),
    ).toPandas()
    assert (out.instrument_name == out.formatted).all()


# --- validation layer ---
def test_quality_metrics_shape(trades_df):
    m = quality_metrics(trades_df).toPandas().iloc[0]
    assert m.total_rows == 200
    assert m.unique_ids == 200
    assert m.dedup_rate == 1.0
    assert m.iv_null_or_zero_rate == 0.0
    # HLL++ scale path: within 5% of exact on this cardinality
    a = quality_metrics(trades_df, approx_distinct=True).toPandas().iloc[0]
    assert abs(a.unique_ids - 200) <= 10
    assert a.total_rows == 200


def test_coverage_by_group(trades_df):
    c = coverage_by_group(trades_df).toPandas()
    assert set(c.underlying) == {"BTC"}
    assert c.total_rows.sum() == 200


def test_gap_analysis_finds_planted_gap(spark):
    ts = [dt.datetime(2024, 1, 1, 0) + dt.timedelta(minutes=5 * i) for i in range(20)]
    ts += [ts[-1] + dt.timedelta(hours=5)]  # planted 5h gap
    df = spark.createDataFrame([(t,) for t in ts], "timestamp timestamp")
    gaps = gap_analysis(df, threshold_hours=1.0).toPandas()
    assert len(gaps) == 1
    assert abs(gaps.gap_hours.iloc[0] - 5.0) < 1e-9
    # a 30h hole covering one whole empty day between two runs of data
    ts = [dt.datetime(2024, 1, 1, 0) + dt.timedelta(minutes=30 * i) for i in range(40)]
    ts += [ts[-1] + dt.timedelta(hours=30)]
    ts += [ts[-1] + dt.timedelta(minutes=30 * i) for i in range(5)]
    df = spark.createDataFrame([(t,) for t in ts], "timestamp timestamp")
    gaps = gap_analysis(df, threshold_hours=1.0).toPandas()
    assert len(gaps) == 1
    assert abs(gaps.gap_hours.iloc[0] - 30.0) < 1e-9


def test_describe_capabilities():
    d = describe()
    assert d["execution"] == "pyspark"
    assert "fetch_trades" in d["capabilities"]["query"]
    assert "egarch" in d["capabilities"]["features"]


def test_ensure_spot_dictionary_probe(spark, tmp_path):
    from gapless_deribit_clickhouse_spark.features import ensure_spot_dictionary

    assert not ensure_spot_dictionary(spark, table="__no_such_spot__")
    p = str(tmp_path / "spot.parquet")
    spark.createDataFrame(
        [("BTCUSDT", 50000.0)], "symbol string, close double"
    ).write.parquet(p)
    assert ensure_spot_dictionary(spark, table="__spot_probe__", path=p)
    assert spark.catalog.tableExists("__spot_probe__")  # now registered
    assert ensure_spot_dictionary(spark, table="__spot_probe__")
    assert not ensure_spot_dictionary(spark, table="__nope__", path=str(tmp_path / "missing"))
    spark.catalog.dropTempView("__spot_probe__")


def test_merge_rollup_is_split_invariant(spark):
    from gapless_deribit_clickhouse_spark.operators.merge_rollup import (
        finalize_rollup,
        merge_rollup,
        partial_rollup,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None),
        ("b", 5.0), ("b", 5.0), ("c", 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double").repartition(4)

    def final(splits):
        states = [partial_rollup(s, ["k"], "v") for s in splits]
        out = finalize_rollup(merge_rollup(states, ["k"]), ["k"])
        return {
            r["k"]: (r["n_obs"], r["sum_value"], r["min_value"], r["max_value"],
                     round(r["avg_value"], 12),
                     None if r["stddev_value"] is None else round(r["stddev_value"], 12))
            for r in out.collect()
        }

    whole = final([df])
    halves = final([df.filter("v < 4"), df.filter("v >= 4 or v is null")])
    thirds = final([df.limit(0), df.filter("k = 'a'"), df.filter("k != 'a'")])
    assert whole == halves == thirds
    assert whole["a"][0] == 3 and whole["c"][5] is None  # n<2 -> NULL stddev
    import math
    assert math.isclose(whole["a"][5], 1.0)  # stddev_samp of 1,2,3


def test_register_views_enables_raw_sql(spark):
    from gapless_deribit_clickhouse_spark.core.tables import register_views

    register_views(spark, "/root/testdata/sf0.001")
    # the ClickHouse-migration story: keep writing plain SQL against
    # the same table names; Catalyst plans it like the DataFrame API
    out = spark.sql(
        """
        SELECT event_type, count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
        """
    ).collect()
    assert [r["event_type"] for r in out] == [
        "click", "error", "purchase", "signup", "view"
    ]
    assert all(r["n"] > 0 for r in out)
    # idempotent re-registration
    register_views(spark, "/root/testdata/sf0.001")
    assert spark.sql("SELECT count(*) AS c FROM region").collect()[0]["c"] == 5


def test_weighted_median_matches_bruteforce(spark):
    """50 random groups in ONE job, each checked against a Python
    brute force of the definition (smallest value whose running
    weight reaches half the total), including value ties and skewed
    weights."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows, expected = [], {}
    for g in range(50):
        n = int(rng.integers(1, 30))
        # small value alphabet forces ties; weights span 4 decades
        vals = rng.integers(0, 8, n).astype(float)
        wts = (10.0 ** rng.integers(0, 4, n)).astype(int)
        key = f"g{g}"
        rows += [(key, float(v), int(w)) for v, w in zip(vals, wts)]
        order = np.argsort(vals, kind="stable")
        sv, sw = vals[order], wts[order]
        cum = np.cumsum(sw)
        expected[key] = float(sv[np.searchsorted(2 * cum, cum[-1])])
    df = spark.createDataFrame(rows, "k string, value double, qty long")

    from gapless_deribit_clickhouse_spark.operators.weighted import (
        weighted_median_per_group,
    )

    got = {
        r["k"]: r["weighted_median"]
        for r in weighted_median_per_group(df, ["k"], "value", "qty").collect()
    }
    assert got == expected


def test_snapshot_diff_change_types_and_null_safety(spark):
    from gapless_deribit_clickhouse_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, None), (3, 30.0, "C"), (4, None, "D")],
        "k long, price double, status string",
    )
    new = spark.createDataFrame(
        [(2, 20.0, None), (3, 31.0, "C"), (4, None, None), (5, 50.0, "E")],
        "k long, price double, status string",
    )
    out = {
        r.k: r
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    assert set(out) == {1, 3, 4, 5}  # key 2 unchanged (NULL == NULL)
    assert out[1].change_type == "delete" and out[1].new_price is None
    assert out[3].change_type == "update" and out[3].new_price == 31.0
    # NULL-safe per column: status D -> NULL is a real update
    assert out[4].change_type == "update"
    assert out[5].change_type == "insert" and out[5].old_price is None
    # restricting compare_cols to price makes key 4 unchanged
    only_price = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, keys=["k"], compare_cols=["price"]).collect()
    }
    assert set(only_price) == {1, 3, 5}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_diff(old, new, keys=["k"], compare_cols=["nope"])
