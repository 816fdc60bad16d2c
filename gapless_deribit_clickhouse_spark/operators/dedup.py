"""Dedup-at-read: ReplacingMergeTree/FINAL semantics.

The reference's fact table is a ClickHouse ReplacingMergeTree keyed by
its ORDER BY tuple ending in ``trade_id``; readers append ``FINAL`` to
collapse duplicate versions (``/root/reference/schema/clickhouse/
options_trades.yaml:26,30``; ``api.py:167-171``). ClickHouse keeps an
arbitrary "last" row; we pin a deterministic winner (SURVEY §7.3.3):
max of the version columns, with the full remaining row as final
tiebreak so results are stable under shuffle.

Scale note: this is a shuffle on the key columns. At 100 TB you do NOT
run this per query — you maintain a compacted table
(:func:`compact_table`) and the read-side dedup view is the escape
hatch (`use_final=True` parity). The streaming path's
``dropDuplicatesWithinWatermark`` is not this semantics: it keeps the
first-arriving version of a key, not the latest
(``streaming/ingest.py:dedup_stream``). The window variant below lets
AQE handle skew. Catalyst moves a filter below a window only when the
filter names partition-spec columns alone, and the ``options_trades``
dedup key is ``trade_id`` alone (``schema/options_trades.yaml``), so
the window spans every row of its input and a filter applied to its
output stays above it. ``fetch_trades`` therefore filters the input on
the columns every version of a trade shares (``dedup_invariant``):
``underlying`` prunes partitions and a point lookup windows a few
rows. Its ``timestamp`` range stays above the window, because a
re-delivery may land in a later ``trade_month`` partition, or after
the range, than the version it replaces.

Land cheaply, merge later: ``schema.ddl.write_table(mode="append")``
dedups each batch as it lands (a version that loses inside the batch
also loses in the table) and marks the partition leaves it created
with a clean marker (:func:`mark_clean`). :func:`compact_table` then
launches no Spark job for a selection that one dedup pass left clean.
The marker validates itself (:func:`clean_mark`): it lists the leaf's
data files, so any later write to the leaf makes it dirty again
without anyone removing the marker. Appends to an existing leaf do not
merge with it (no copy-on-write): they leave it dirty until the next
compaction.
"""

from __future__ import annotations

import json
import shutil
import uuid
from collections.abc import Iterable, Mapping, Sequence
from pathlib import Path
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

# Spark, pyarrow and ``*.parquet`` globs all skip this name: it starts
# with ``_``, holds no ``=`` and is not a ``.parquet`` file.
CLEAN_MARKER = "_DEDUP_CLEAN"


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
) -> DataFrame:
    """Keep exactly one row per ``keys``: the one with the greatest
    ``version_cols`` tuple (nulls last, then arbitrary-but-deterministic
    by remaining columns).

    Oracle SQL shape::

        SELECT * EXCLUDE rn FROM (
          SELECT *, row_number() OVER (
            PARTITION BY <keys> ORDER BY <version_cols> DESC, <rest>) rn
          FROM t) WHERE rn = 1
    """
    order = [F.col(c).desc_nulls_last() for c in version_cols]
    # deterministic tiebreak on everything else
    rest = [c for c in df.columns if c not in set(keys) | set(version_cols)]
    order += [F.col(c).desc_nulls_last() for c in rest]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def partition_leaves(root: Path, depth: int) -> list[Path]:
    """Partition leaf dirs ``depth`` levels under ``root``, relative to
    it; ``Path(".")`` stands for an unpartitioned table's root."""
    if not root.exists():
        return []
    if not depth:
        return [Path(".")]
    return [
        p.relative_to(root)
        for p in root.glob("/".join(["*=*"] * depth))
        if p.is_dir()
    ]


def _selected(rel: Path, selectors: Sequence[Mapping[str, str]] | None) -> bool:
    """Whether any selector picks the partition leaf ``rel``."""
    if selectors is None:
        return True
    values = {}
    for part in rel.parts:
        c, v = part.split("=", 1)
        values[unquote(c)] = unquote(v)
    return any(all(values[c] == str(v) for c, v in sel.items()) for sel in selectors)


def _data_files(leaf: Path) -> list[str]:
    """The sorted names of the files Spark reads in ``leaf``: it skips
    names that start with ``_`` or ``.`` (the marker, checksums)."""
    return sorted(f.name for f in leaf.iterdir() if f.is_file() and not f.name.startswith(("_", ".")))


def mark_clean(root: Path, leaves: Iterable[Path]) -> None:
    """Mark the leaves under ``root`` as the output of one dedup pass:
    each gets a :data:`CLEAN_MARKER` holding one id shared by the call
    and the names of the leaf's data files as they are now."""
    mark = uuid.uuid4().hex
    for rel in leaves:
        leaf = root / rel
        (leaf / CLEAN_MARKER).write_text(json.dumps({"id": mark, "files": _data_files(leaf)}))


def clean_mark(leaf: Path) -> str | None:
    """The id of ``leaf``'s marker while it lists exactly the leaf's
    data files, else None. Any change to the files after the marker
    was written (an append, a crash before the marker, a restore)
    leaves the leaf dirty without anyone removing the marker."""
    try:
        marker = json.loads((leaf / CLEAN_MARKER).read_text())
    except (OSError, ValueError):
        return None
    return marker["id"] if marker["files"] == _data_files(leaf) else None


def _restore(old: Path, target: Path) -> None:
    """Put the aside copy ``old`` back at ``target``, keeping any files
    written to ``target`` since the crash."""
    if target.exists():
        for f in old.iterdir():
            f.replace(target / f.name)
        old.rmdir()
    else:
        target.parent.mkdir(parents=True, exist_ok=True)
        old.rename(target)


def _recover(root: Path, staging: Path, aside: Path, depth: int) -> None:
    """Finish or undo the swap of a compaction that crashed.

    A leaf under ``aside`` is the old copy of a partition whose swap
    began. If its staging leaf has gone, the new copy is in place (or
    the partition compacted to nothing), so the old copy is deleted
    (roll forward). If its staging leaf is still there, the swap
    stopped before the new copy moved in, so the old copy goes back
    (roll back). Only then is staging deleted: by now it holds no
    partition's only copy.
    """
    for rel in partition_leaves(aside, depth):
        if (staging / rel).exists():
            _restore(aside / rel, root / rel)
    shutil.rmtree(aside, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def compact_table(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    only_partitions: Sequence[Mapping[str, str]] | None = None,
    sort_within_partitions: Sequence[str] = (),
) -> dict:
    """ReplacingMergeTree background-merge parity: the maintenance job
    that makes dedup-at-read unnecessary (ClickHouse ``OPTIMIZE TABLE
    ... [PARTITION p] FINAL``; the reference relies on the implicit
    background merge, ``options_trades.yaml:26`` + ``api.py:121-124``).

    Rewrites the parquet table at ``path`` so each ``keys`` tuple keeps
    only its :func:`dedup_latest` winner. Plain parquet has no
    transactional overwrite (and Spark refuses to overwrite a path it
    is reading), so this stages the compacted partitions next to the
    table and swaps partition directories in — the same
    rewrite-then-rename a Delta/Iceberg ``OPTIMIZE`` performs, minus
    the transaction log.

    Crash safety: the swap of one partition renames the live leaf
    aside (``<path>__old``), renames the staged leaf in and deletes the
    aside copy. Between the two renames the partition is missing from
    the table; its rows survive in the aside and staging copies, and
    every run starts with a recovery pass that rolls such a swap back
    or forward (see :func:`_recover`), so a rerun after a crash at any
    step loses and duplicates no row.

    Scale design: pass ``only_partitions`` (list of
    ``{partition_col: value}`` selectors, CH ``OPTIMIZE PARTITION``
    parity) to touch only hot partitions — cost is proportional to the
    partitions rewritten, never the table. A selection with no partition
    leaf (an empty list, a path never written, a table whose appends
    were all empty) runs only the recovery pass and returns zero stats,
    as ``OPTIMIZE ... FINAL`` on an empty ClickHouse table succeeds.
    The dedup runs only within the selected slice: a key whose versions
    sit both inside and outside it keeps one version in each. For
    ``options_trades`` that can happen, because the key is ``trade_id``
    alone, not a partition column, and a re-delivery with a later
    ``timestamp`` can cross a ``trade_month`` boundary. A full
    compaction (no ``only_partitions``) dedups across every partition
    and swaps out a partition whose rows all lost to winners elsewhere.

    A merge with nothing to merge costs nothing. After the recovery
    pass, if every selected leaf holds a :data:`CLEAN_MARKER` that
    still lists its files, and all those markers carry one id (one
    dedup pass, an append's or a compaction's, covered the whole
    selection), no Spark job runs: the stats come from the parquet
    footers, with ``removed`` 0 and ``partitions`` ``[]`` (nothing was
    swapped). A selection that mixes ids runs: a later version in one
    leaf may still have to evict an earlier one in another. A
    compaction that runs counts its input and output rows with two
    observations on its write job (3 Spark jobs: schema inference, the
    shuffle map stage, the write) and marks its staged leaves with one
    id before the swap, so each leaf and its marker move in one rename.

    One writer per table: no ``write_table`` append may land while a
    compaction of the same table runs (see
    :func:`~gapless_deribit_clickhouse_spark.schema.ddl.write_table`).
    """
    root = Path(path)
    staging = root.with_name(root.name + "__compacting")
    # aside area OUTSIDE the table root (an __old dir inside it would be
    # discovered as a bogus partition value)
    aside = root.with_name(root.name + "__old")
    depth = len(partition_cols)
    for sel in only_partitions or ():
        if not set(sel) <= set(partition_cols):
            raise ValueError(
                f"only_partitions selector {dict(sel)} names a column outside "
                f"partition_cols {list(partition_cols)}"
            )
    _recover(root, staging, aside, depth)
    # every partition read is swapped, also one whose rows all lost to
    # winners in other partitions and so has no staged leaf
    leaves = {rel for rel in partition_leaves(root, depth) if _selected(rel, only_partitions)}
    if not leaves:
        return {"rows_before": 0, "rows_after": 0, "removed": 0, "partitions": []}
    marks = {clean_mark(root / rel) for rel in leaves}
    if len(marks) == 1 and None not in marks:
        # one dedup pass left the whole selection clean: nothing to merge
        rows = sum(
            pq.read_metadata(root / rel / name).num_rows
            for rel in leaves
            for name in _data_files(root / rel)
        )
        return {"rows_before": rows, "rows_after": rows, "removed": 0, "partitions": []}

    df = spark.read.parquet(path)
    if only_partitions:
        sel = None
        for p in only_partitions:
            one = None
            for c, v in p.items():
                cond = F.col(c) == v
                one = cond if one is None else one & cond
            sel = one if sel is None else sel | one
        df = df.filter(sel)
    # the row counts ride on the write job instead of two count() jobs
    read, kept = Observation(), Observation()
    df = df.observe(read, F.count(F.lit(1)).alias("rows"))
    out = dedup_latest(df, keys, version_cols).observe(kept, F.count(F.lit(1)).alias("rows"))
    if sort_within_partitions:
        out = out.sortWithinPartitions(*sort_within_partitions)

    writer = out.write.mode("overwrite").format("parquet")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(str(staging))
    rows_before, rows_after = read.get["rows"], kept.get["rows"]
    staged = partition_leaves(staging, depth)
    # the marker goes in before the swap, so it moves with its leaf
    mark_clean(staging, staged)
    leaves |= set(staged)

    for rel in sorted(leaves):
        target, new, old = root / rel, staging / rel, aside / rel
        if target.exists():
            old.parent.mkdir(parents=True, exist_ok=True)
            target.rename(old)
        if new.exists():
            target.parent.mkdir(parents=True, exist_ok=True)
            new.rename(target)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(aside, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "removed": rows_before - rows_after,
        "partitions": [str(rel) for rel in sorted(leaves)],
    }


def collapse_by_sign(
    df: DataFrame,
    keys: Sequence[str],
    sign_col: str,
    version_cols: Sequence[str],
) -> DataFrame:
    """(Versioned)CollapsingMergeTree read parity: each key's rows are
    a ledger of state rows (+1) and cancel rows (-1); a fully merged
    read keeps one row per key whose net sign is positive — the
    latest-version state row — and drops keys whose inserts and
    cancels annihilate (ClickHouse ``CollapsingMergeTree(sign)`` /
    ``VersionedCollapsingMergeTree(sign, version)``; sibling of the
    ReplacingMergeTree parity in :func:`dedup_latest`).

    One shuffle on ``keys``: the net sign is an unordered window sum
    and the winning row a row_number over the version order, both over
    the same partitioning — Spark plans a single exchange. Output: the
    latest row's full columns plus ``net`` (the surviving multiplicity,
    ClickHouse's "keep the last ``sum(sign)`` rows" generalized to the
    common keep-one case).
    """
    wp = Window.partitionBy(*keys)
    order = [F.col(c).desc_nulls_last() for c in version_cols]
    rest = [
        c
        for c in df.columns
        if c not in set(keys) | set(version_cols) | {sign_col}
    ]
    order += [F.col(c).desc_nulls_last() for c in rest]
    return (
        df.withColumn("net", F.sum(sign_col).over(wp))
        .withColumn("__rn", F.row_number().over(wp.orderBy(*order)))
        .filter((F.col("__rn") == 1) & (F.col("net") > 0))
        .drop("__rn", sign_col)
    )
