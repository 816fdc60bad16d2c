"""Snapshot diff: row-level change capture between two table versions.

The reference refreshes its fact table by re-ingesting and relying on
ReplacingMergeTree to absorb duplicates (reference
`src/gapless_deribit_clickhouse/ingest.py` upsert path); the general
primitive underneath — WHAT changed between yesterday's snapshot and
today's — is this operator: the input to incremental downstream
refreshes, audit trails, and CDC feeds.

Scale design: one FULL OUTER hash equi-join on the key columns, with
each side reduced to (keys, fingerprint) + the compared columns before
the join — the fingerprint is a single ``xxhash64`` over the compared
columns, so update detection is one long comparison, not N column
comparisons in the join condition. Unchanged rows are dropped by a
post-filter (at 100 TB the overwhelming majority — the filter sits on
the join output, before any downstream work). Keys must be unique per
snapshot (a snapshot IS keyed state); duplicate keys fan out like any
join and the caller should dedup first (`dedup_latest`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """One row per key whose state differs between ``old`` and ``new``:
    ``insert`` (key only in new), ``delete`` (key only in old),
    ``update`` (in both, any compared column differs — NULL-safe).
    Output: the key columns, ``change_type``, and every compared column
    twice under ``old_`` / ``new_`` prefixes (NULLs on the absent
    side). Unchanged keys are filtered out.

    ``compare_cols`` defaults to every shared non-key column. Columns
    existing on only one side are ignored (schema evolution is the
    caller's concern — diff what both versions can express).

    Update detection rests on ``xxhash64`` fingerprint equality: a
    64-bit hash collision between two genuinely different states is
    classified "unchanged" with probability ~2^-64 per key — the
    standard CDC fingerprint tradeoff, accepted here because the
    alternative (N NULL-safe column comparisons in the join output)
    re-reads every compared column for the 99%+ unchanged majority.
    NULL is disambiguated from any literal value by hashing a
    per-column null FLAG alongside the coalesced cast, so NULL vs the
    string "\\x00null" (or any other sentinel-shaped value) hash
    differently (ADVICE r7).
    """
    shared = [c for c in old.columns if c in new.columns and c not in keys]
    cols = list(compare_cols) if compare_cols is not None else shared
    missing = [c for c in cols if c not in shared]
    if missing:
        raise ValueError(f"compare_cols not on both sides: {missing}")

    def slim(df: DataFrame, side: str) -> DataFrame:
        # fingerprint over the compared columns: each column
        # contributes (null-flag, coalesced string cast) so a NULL can
        # never collide with a literal value equal to the sentinel —
        # the flag, not the sentinel, is what separates them
        fp_args: list = []
        for c in cols:
            fp_args.append(F.col(c).isNull().cast("int"))
            fp_args.append(F.coalesce(F.col(c).cast("string"), F.lit("")))
        fp = F.xxhash64(*fp_args) if cols else F.lit(0)
        return df.select(
            *keys,
            F.lit(True).alias(f"__present_{side}"),
            fp.alias(f"__fp_{side}"),
            *[F.col(c).alias(f"{side}_{c}") for c in cols],
        )

    joined = slim(old, "old").join(slim(new, "new"), on=keys, how="full_outer")
    change = (
        F.when(F.col("__present_old").isNull(), F.lit("insert"))
        .when(F.col("__present_new").isNull(), F.lit("delete"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[f"old_{c}" for c in cols],
            *[f"new_{c}" for c in cols],
        )
    )
