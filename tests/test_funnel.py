"""windowFunnel / retention parity: planted chains, window cutoffs,
ordering, and the level-0 edge."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.operators.funnel import (
    retention,
    window_funnel,
)

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _ev(user, minutes, etype):
    return (user, T0 + timedelta(minutes=minutes), etype)


@pytest.fixture(scope="module")
def funnel_events(spark):
    rows = [
        # u1: full chain inside the window -> level 3
        _ev(1, 0, "view"), _ev(1, 10, "click"), _ev(1, 20, "purchase"),
        # u2: purchase BEFORE click -> chain order broken -> level 2
        _ev(2, 0, "view"), _ev(2, 5, "purchase"), _ev(2, 30, "click"),
        # u3: click outside the 1h window of the only view -> level 1
        _ev(3, 0, "view"), _ev(3, 90, "click"),
        # u4: never viewed -> level 0 (but has later-step events)
        _ev(4, 0, "click"), _ev(4, 5, "purchase"),
        # u5: first chain times out, a LATER view restarts it -> level 3
        # (the greedy max-chain-start dominance case)
        _ev(5, 0, "view"), _ev(5, 55, "view"), _ev(5, 70, "click"),
        _ev(5, 100, "purchase"),
        # u6: view+click inside the 1h window, purchase at minute 70
        # (past the window of the only view) -> level 2
        _ev(6, 0, "view"), _ev(6, 30, "click"), _ev(6, 70, "purchase"),
    ]
    return spark.createDataFrame(rows, ["user_id", "ts", "event_type"])


STEPS = lambda: [  # noqa: E731
    F.col("event_type") == "view",
    F.col("event_type") == "click",
    F.col("event_type") == "purchase",
]


def test_window_funnel_planted_levels(funnel_events):
    out = {
        r.user_id: r.funnel_level
        for r in window_funnel(funnel_events, STEPS(), window="1 hour").collect()
    }
    assert out == {1: 3, 2: 2, 3: 1, 4: 0, 5: 3, 6: 2}


def test_window_funnel_window_widening_is_monotone(funnel_events):
    narrow = {
        r.user_id: r.funnel_level
        for r in window_funnel(funnel_events, STEPS(), window="5 minutes").collect()
    }
    wide = {
        r.user_id: r.funnel_level
        for r in window_funnel(funnel_events, STEPS(), window="3 hours").collect()
    }
    assert all(narrow[u] <= wide[u] for u in narrow)
    # at 3h, u3's click re-enters the window and u6 completes
    assert wide[3] == 2 and wide[6] == 3


def test_window_funnel_validates_steps(funnel_events):
    with pytest.raises(ValueError):
        window_funnel(funnel_events, [F.col("event_type") == "view"])
    with pytest.raises(ValueError):
        window_funnel(funnel_events, STEPS(), window="1 fortnight")


def test_retention_cohort_flags(funnel_events):
    out = {
        (r.user_id): (r.r1, r.r2, r.r3)
        for r in retention(
            funnel_events,
            conds=[
                F.col("event_type") == "view",
                F.col("event_type") == "click",
                F.col("event_type") == "purchase",
            ],
        ).collect()
    }
    # u4 clicked+purchased but never viewed: cohort flags all 0
    assert out[4] == (0, 0, 0)
    assert out[1] == (1, 1, 1)
    assert out[3] == (1, 1, 0)


def test_sequence_count_matches_bruteforce_automaton(spark):
    import itertools
    import datetime

    from gapless_deribit_clickhouse_spark.operators.funnel import sequence_count

    def automaton(tags):
        pending, cnt = False, 0
        for t in tags:
            if t == 1:
                pending = True
            elif t == 2 and pending:
                cnt += 1
                pending = False
        return cnt

    # every tag sequence up to length 6 over {A, B, other}
    rows, expected = [], {}
    uid = 0
    base = datetime.datetime(2024, 1, 1)
    for n in range(7):
        for seq in itertools.product("abx", repeat=n):
            uid += 1
            tagged = []
            for i, c in enumerate(seq):
                rows.append((uid, base + datetime.timedelta(minutes=i), c))
                if c in "ab":
                    tagged.append(1 if c == "a" else 2)
            if tagged:
                expected[uid] = automaton(tagged)
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["user_id"]: r["sequence_count"]
        for r in sequence_count(
            df,
            first=F.col("event_type") == "a",
            then=F.col("event_type") == "b",
        ).collect()
    }
    assert got == expected


def test_sequence_count_equal_time_pair_counts(spark):
    import datetime

    from gapless_deribit_clickhouse_spark.operators.funnel import sequence_count

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, "b"), (1, t0, "a")],  # same timestamp: a orders first
        "user_id long, ts timestamp, event_type string",
    )
    out = sequence_count(
        df, first=F.col("event_type") == "a", then=F.col("event_type") == "b"
    ).collect()
    assert out[0]["sequence_count"] == 1


def test_attribution_last_touch_planted(spark):
    """Last-touch credit: most recent preceding touch within the
    lookback wins; later touches never attribute backwards; out-of-
    window and touchless conversions stay NULL but present."""
    import datetime as dtm

    from gapless_deribit_clickhouse_spark.operators.attribution import (
        attribution_last_touch,
    )

    def ts(s):
        return dtm.datetime(2024, 1, 1) + dtm.timedelta(seconds=s)

    rows = [
        # user 1: view -> click -> purchase (click is last touch)
        (10, 1, ts(0), "view"),
        (11, 1, ts(100), "click"),
        (12, 1, ts(200), "purchase"),
        # a touch AFTER the purchase must not attribute backwards
        (13, 1, ts(300), "view"),
        # user 2: touch far outside the 1h lookback
        (20, 2, ts(0), "view"),
        (21, 2, ts(5000), "purchase"),
        # user 3: no touch at all (error events don't count)
        (30, 3, ts(0), "error"),
        (31, 3, ts(10), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        r["event_id"]: r
        for r in attribution_last_touch(ev).collect()
    }
    assert set(got) == {12, 21, 31}  # every purchase appears
    assert got[12]["touch_event_id"] == 11
    assert got[12]["touch_type"] == "click"
    assert got[12]["touch_age_s"] == 100.0
    assert got[21]["touch_event_id"] is None  # outside lookback
    assert got[31]["touch_event_id"] is None  # never touched


def test_attribution_first_touch_episode_reset(spark):
    """First-touch credit resets at each conversion: the second
    purchase is attributed to the first touch AFTER the first
    purchase, never to the global first touch."""
    import datetime as dtm

    from gapless_deribit_clickhouse_spark.operators.attribution import (
        attribution_first_touch,
    )

    def ts(s):
        return dtm.datetime(2024, 1, 1) + dtm.timedelta(seconds=s)

    rows = [
        (10, 1, ts(0), "view"),       # episode 0 first touch
        (11, 1, ts(50), "click"),
        (12, 1, ts(100), "purchase"),  # -> credited to 10
        (13, 1, ts(200), "click"),     # episode 1 first touch
        (14, 1, ts(250), "view"),
        (15, 1, ts(300), "purchase"),  # -> credited to 13, NOT 10
        (16, 1, ts(400), "purchase"),  # episode 2: no touch -> NULL
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        r["event_id"]: r for r in attribution_first_touch(ev).collect()
    }
    assert got[12]["touch_event_id"] == 10
    assert got[12]["touch_age_s"] == 100.0
    assert got[15]["touch_event_id"] == 13
    assert got[15]["touch_type"] == "click"
    assert got[15]["touch_age_s"] == 100.0
    assert got[16]["touch_event_id"] is None
