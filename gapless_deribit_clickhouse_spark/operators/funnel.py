"""Behavioral-analytics operators: windowFunnel / retention parity.

ClickHouse ships `windowFunnel` and `retention` as signature
aggregate functions for event analytics; Spark has no built-in
equivalent, so this module re-expresses them as pure DataFrame plans:

- ``window_funnel``: per user, the deepest funnel level reachable by
  a chain of events matching ``steps`` in order, with every chain
  event inside ``window`` of the chain's FIRST event and times
  non-decreasing along the chain (ClickHouse's default mode).
- ``retention``: per user, flat 0/1 columns r1..rN — did condition 1
  fire, and for each later condition, did it fire for a user that
  also fired condition 1 (the cohort-retention shape; ClickHouse
  returns the same flags packed in an array).

Scale design (window_funnel): ONE shuffle on the user key, then a
single sorted fold per user — collect the user's (time, step) events,
sort, and ``aggregate`` with a state of per-level chain-start times.
The classic dominance argument makes the greedy fold exact: among
chains reaching level k, one whose first event is LATEST can always
be extended by anything that extends any other (more window
headroom), so state[k] holds only the max chain-start and the fold
answers "exists a chain" precisely. O(n log n) per user, state is
``len(steps)`` longs — no per-pair blowup, unlike the naive
step-k-join chain whose intermediate grows multiplicatively. Per-user
event counts are bounded in practice (and the state is constant-size),
so the fold's window partition behaves like any bounded groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def window_funnel(
    df: DataFrame,
    steps: list[Column],
    window: str = "24 hours",
) -> DataFrame:
    """Max funnel level per user (ClickHouse ``windowFunnel`` parity).

    ``steps`` are boolean Columns, one per funnel stage, evaluated
    against each event row; an event counts for the FIRST step it
    matches. NOTE this is a parity deviation for OVERLAPPING step
    conditions: ClickHouse's default mode lets one event satisfy
    every condition it matches, so an event matching steps 1 AND 2
    reaches level 2 there but only level 1 here — with mutually
    exclusive conditions (the common event_type case) the two agree
    exactly. Events carry ``user_id`` and ``ts``. Returns
    (user_id, funnel_level) for every user with at
    least one matching event — level 0 means the user fired later
    steps but never step 1. A chain must have non-decreasing event
    times and fit entirely inside ``window`` of its first event
    (equal-time events may chain in step order — the microsecond-
    granularity tie case; mirror any oracle accordingly)."""
    n = len(steps)
    if n < 2:
        raise ValueError("window_funnel needs at least two steps")
    w_micros = _interval_micros(window)

    tag = None
    for i, cond in enumerate(steps, start=1):
        tag = F.when(cond, F.lit(i)) if tag is None else tag.when(cond, F.lit(i))
    evs = (
        df.select(
            F.col("user_id"),
            F.unix_micros(F.col("ts")).alias("t"),
            tag.alias("s"),
        )
        .filter(F.col("s").isNotNull())
        .groupBy("user_id")
        # sort_array on (t, s) structs: ties process lower steps first,
        # so an equal-time step-(k) event can extend a chain through an
        # equal-time step-(k-1) event deterministically
        .agg(F.sort_array(F.collect_list(F.struct("t", "s"))).alias("evs"))
    )

    def update(acc: Column, e: Column) -> Column:
        comps = [
            F.when(e["s"] == 1, F.greatest(acc[0], e["t"])).otherwise(acc[0])
        ]
        for k in range(2, n + 1):
            ok = (
                (e["s"] == k)
                & acc[k - 2].isNotNull()
                & ((e["t"] - acc[k - 2]) <= F.lit(w_micros))
            )
            comps.append(
                F.when(ok, F.greatest(acc[k - 1], acc[k - 2])).otherwise(
                    acc[k - 1]
                )
            )
        return F.array(*comps)

    init = F.array(*[F.lit(None).cast("long") for _ in range(n)])
    # levels fill bottom-up (state[k] needs state[k-1] first), so the
    # reached level is simply the count of non-null chain starts
    state = F.aggregate(F.col("evs"), init, update)
    level = F.size(F.filter(state, lambda x: x.isNotNull()))
    return evs.select(F.col("user_id"), level.alias("funnel_level"))


def retention(
    df: DataFrame,
    conds: list[Column],
) -> DataFrame:
    """ClickHouse ``retention`` parity: per user, flag r1 = condition
    1 ever fired, and r_k (k>1) = condition 1 AND condition k both
    fired — the cohort shape ("of users who signed up, who also
    clicked / purchased"). One conditional aggregation, no joins;
    output columns r1..rN as 0/1 ints."""
    if len(conds) < 1:
        raise ValueError("retention needs at least one condition")
    aggs = [
        F.max(F.when(c, F.lit(1)).otherwise(F.lit(0))).alias(f"__c{i}")
        for i, c in enumerate(conds, start=1)
    ]
    per_user = df.groupBy("user_id").agg(*aggs)
    out_cols = [F.col("user_id"), F.col("__c1").alias("r1")]
    for i in range(2, len(conds) + 1):
        out_cols.append((F.col("__c1") * F.col(f"__c{i}")).alias(f"r{i}"))
    return per_user.select(*out_cols)


def _interval_micros(window: str) -> int:
    """Parse '<N> <unit>' into microseconds (the subset of interval
    syntax the funnel needs; explicit so the oracle can mirror the
    exact integer)."""
    qty_s, unit = window.split()
    qty = int(qty_s)
    per = {
        "second": 10**6,
        "seconds": 10**6,
        "minute": 60 * 10**6,
        "minutes": 60 * 10**6,
        "hour": 3600 * 10**6,
        "hours": 3600 * 10**6,
        "day": 86400 * 10**6,
        "days": 86400 * 10**6,
    }.get(unit)
    if per is None:
        raise ValueError(f"unsupported window unit {unit!r}")
    return qty * per


def sequence_count(
    df: DataFrame,
    first: Column,
    then: Column,
) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1).*(?2)')`` parity: per user,
    the number of NON-OVERLAPPING "first ... then" occurrences under
    greedy left-to-right scanning (after a match completes, scanning
    resumes; an unmatched pending ``first`` persists until consumed).

    The greedy automaton reduces to a run-boundary count: a ``then``
    event completes a match iff the tagged event immediately before
    it is a ``first`` (within an A-run followed by B, only the FIRST
    B fires — exactly the automaton's pending-flag semantics). That
    makes the whole operator one window ``lag`` + conditional sum —
    no per-user collect, no fold, whole-stage codegen end to end, one
    shuffle on the user key shared by the window and the aggregation.

    Events matching BOTH conditions tag as ``first`` (same
    first-match deviation as ``window_funnel``; with mutually
    exclusive conditions — the event_type case — parity is exact).
    Ties: equal-time events order ``first`` before ``then``, so an
    equal-timestamp pair still counts (mirror any oracle with
    ORDER BY t, tag)."""
    from pyspark.sql import Window

    tag = F.when(first, F.lit(1)).when(then, F.lit(2))
    evs = df.select(
        F.col("user_id"),
        F.unix_micros(F.col("ts")).alias("t"),
        tag.alias("s"),
    ).filter(F.col("s").isNotNull())
    w = Window.partitionBy("user_id").orderBy("t", "s")
    hit = (F.col("s") == 2) & (F.lag("s").over(w) == 1)
    return (
        evs.withColumn("hit", hit)
        .groupBy("user_id")
        .agg(F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("sequence_count"))
    )
