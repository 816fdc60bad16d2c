"""Harness-portability regression: every registered binding must run on a
SparkSession that did NOT come from our own session factory.

Round-1 postmortem: ``load_table`` assumed
``spark.sql.legacy.parquet.nanosAsLong`` was pre-set by
``core/session.get_spark``; the correctness harness passes a bare
session, so every events-backed query died at the parquet scan
(PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS)). The conf is now set at
runtime inside ``load_table`` itself.

A second ``SparkSession.builder.getOrCreate()`` in one JVM returns the
existing session, so we emulate "bare" the only faithful way available:
unset the session-factory confs our code depends on, run the query, and
restore them. If ``load_table`` ever regresses to relying on factory
pre-configuration, the scan here raises exactly as the harness saw.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

_FACTORY_CONFS = ["spark.sql.legacy.parquet.nanosAsLong"]


@pytest.fixture()
def bare_spark(spark):
    saved: dict[str, str | None] = {}
    for key in _FACTORY_CONFS:
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.unset(key)
    yield spark
    for key, val in saved.items():
        if val is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, val)


def test_events_query_runs_on_bare_session(bare_spark):
    import __spark_entry__ as entry

    queries = entry.queries()
    fn = queries["scan_topn"]
    rows = fn(bare_spark, SF_DIR).collect()
    assert len(rows) > 0


def test_entry_runs_on_bare_session(bare_spark):
    import __spark_entry__ as entry

    df = entry.entry(bare_spark)
    assert df.count() >= 0


def test_load_table_sets_utc_on_a_new_session(spark):
    """Every load re-asserts the UTC session zone, also for a
    ``newSession()`` sibling (own SQL conf, shared SparkContext) that
    loads a table the parent session already loaded."""
    from gapless_deribit_clickhouse_spark.core.tables import load_table

    load_table(spark, SF_DIR, "events")
    sibling = spark.newSession()
    sibling.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = load_table(sibling, SF_DIR, "events")
    assert sibling.conf.get("spark.sql.session.timeZone") == "UTC"
    assert sibling.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert df.sparkSession is sibling
