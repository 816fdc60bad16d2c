"""Sessionization: a gap longer than the threshold starts a new
session, and the per-session stats follow."""

from __future__ import annotations


def test_sessionize_gap_splits(spark):
    import datetime as dt

    from gapless_deribit_clickhouse_spark.operators.sessionize import (
        session_stats,
        sessionize,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: two sessions (40-min gap), user 2: one session
        (1, base), (1, base + dt.timedelta(minutes=10)),
        (1, base + dt.timedelta(minutes=50)),
        (2, base), (2, base + dt.timedelta(minutes=29)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    s = sessionize(ev, gap_seconds=1800).toPandas()
    u1 = s[s.user_id == 1].sort_values("ts")
    assert u1.session_seq.tolist() == [1, 1, 2]
    stats = session_stats(ev).toPandas()
    assert len(stats) == 3
    u2 = stats[(stats.user_id == 2)]
    assert u2.n_events.tolist() == [2] and u2.duration_s.tolist() == [29 * 60.0]
