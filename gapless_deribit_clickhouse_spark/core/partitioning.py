"""Partition-count guards.

Expensive per-row expression trees (window frames, feature
extraction) inherit the scan's split count. A small file arrives as
ONE split, so the whole pipeline runs in one task regardless of
cluster size — invisible at 100 TB (plenty of splits), pathological
on dimension-sized inputs. ``ensure_parallelism`` is a no-op whenever
the input already has enough splits, so it is safe to leave in place
at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# analyzed-plan node names through which ``df.rdd`` stays a pure
# metadata conversion: no exchange can appear below them, so AQE has
# no query stage to materialize at construction time. Anything else
# (Join/Aggregate/Window/Sort/Repartition/...) plans an exchange, and
# inspecting ``df.rdd`` there would EXECUTE the upstream stages.
_SCAN_SHAPED_NODES = frozenset(
    {
        "Project",
        "Filter",
        "LogicalRelation",
        "LogicalRDD",
        "LocalRelation",
        "SubqueryAlias",
        "View",
        "Generate",
        "Range",
    }
)


def _scan_shaped(df: DataFrame) -> bool:
    """True iff the analyzed plan is a narrow chain over a leaf — the
    only shape where ``df.rdd.getNumPartitions()`` is guaranteed
    job-free under AQE. Py4j walk bounded at 32 nodes, no execution
    (ADVICE r12: exported operators may receive arbitrary post-shuffle
    frames)."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        seen = 0
        while stack:
            node = stack.pop()
            seen += 1
            if seen > 32:
                return False
            if node.getClass().getSimpleName() not in _SCAN_SHAPED_NODES:
                return False
            for i in range(node.children().size()):
                stack.append(node.children().apply(i))
        return True
    except Exception:
        return False


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to ``defaultParallelism`` iff the
    plan currently has fewer partitions; metadata-only check, no job is
    triggered. On inputs that are not scan-shaped the check
    itself would execute upstream query stages under AQE, so the
    helper is a no-op there — such plans are post-shuffle and already
    carry the session's shuffle parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if not _scan_shaped(df):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
