"""Deterministic (hash-based) sampling for training-data pipelines.

Random sampling (``df.sample``) is non-reproducible across runs,
partitionings, and engines — a training pipeline needs the SAME
subset every rerun, join-stable membership ("was this doc in the
train split?"), and per-stratum rates. Hash sampling gives all
three: keep a row iff ``bucket(key) < rate * B`` where ``bucket`` is
the first 8 hex chars of md5 mod B. No shuffle, no state, pushes
through any plan, and the DuckDB oracle reproduces it bit-for-bit.

At 100 TB this is a pure map over the scan — sampling happens before
any shuffle, so downstream stages see only the kept fraction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def hash_u32(key: Column, salt: str = "") -> Column:
    """First 8 md5 hex chars (32 bits) of the salted key, as a long —
    the one canonical hash derivation every md5-bucket consumer
    (sampling, classifier hashing trick, cluster chunking) and every
    DuckDB oracle must mirror. Change it here and nowhere else."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10
    ).cast("long")


def hash_bucket(key: Column, salt: str = "", buckets: int = BUCKETS) -> Column:
    """Uniform bucket in [0, buckets): ``hash_u32`` mod buckets."""
    return (hash_u32(key, salt) % buckets).cast("int")


def hash_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    salt: str = "",
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction keyed on ``key_col``.
    Membership is stable across runs and engines; disjoint salts give
    independent samples (e.g. train/validation splits)."""
    return df.filter(hash_bucket(F.col(key_col), salt) < int(rate * BUCKETS))


def sample_n_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str,
    salt: str = "",
    splits: int = 32,
) -> DataFrame:
    """Deterministic fixed-size sample: the ``n`` rows with the
    smallest salted key hash per group — reproducible across runs,
    partitionings, and engines (unlike per-group ``df.sample``), the
    inspection/eval-subset builder ("give me 100 docs per language,
    the same 100 every time").

    Scale shape: a two-level tournament so parallelism never collapses
    to group cardinality (2 groups over 100 TB must not mean 2 sort
    tasks). Level 1 ranks within (group, key-hash split) — ``splits``
    independent partitions per group, each sorting only its share;
    level 2 re-ranks the surviving ``splits x n`` rows per group, a
    metadata-scale window. Exact by construction: every global top-n
    row is top-n within its split. Same (hash, key) order at both
    levels keeps the winners identical to a single-window run."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    split = hash_bucket(F.col(key_col), salt + "|split") % splits
    w1 = Window.partitionBy(group_col, "__split").orderBy(h.asc(), F.col(key_col).asc())
    survivors = (
        df.withColumn("__split", split)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= n)
    )
    w2 = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        survivors.withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= n)
        .drop("__split", "__rn", "__rn2")
    )


def mixture_thresholds(counts: dict[str, int], parts: dict[str, int]) -> dict[str, int]:
    """Per-domain integer bucket thresholds realizing a target mixture.

    ``parts`` gives the target mixture as integer proportions (e.g.
    ``{"web": 5, "code": 2, "wiki": 1}`` = 5:2:1); ``counts`` the
    available rows per domain. The sample is the LARGEST total N such
    that no domain is oversampled (rate <= 1): N = min_d(c_d * P / p_d),
    then threshold_d = floor(p_d * N * BUCKETS / (P * c_d)).

    All arithmetic is exact integer math (Python bigints here, HUGEINT
    in the DuckDB oracle), so engine and oracle agree bit-for-bit —
    no float rate ever crosses an engine boundary. A domain named in
    ``parts`` but absent from ``counts`` (zero rows) collapses N to 0:
    the requested mixture is unrealizable and the sample is empty
    rather than silently re-weighted.
    """
    if not parts or any(p <= 0 for p in parts.values()):
        raise ValueError("parts must be a non-empty mapping to positive ints")
    total_parts = sum(parts.values())
    n = min(counts.get(d, 0) * total_parts // p for d, p in parts.items())
    return {
        d: min(BUCKETS, p * n * BUCKETS // (total_parts * counts[d]))
        if counts.get(d, 0) > 0
        else 0
        for d, p in parts.items()
    }


def mixture_sample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    parts: dict[str, int],
) -> DataFrame:
    """Deterministically resample to a target domain mixture — the
    pretraining mixture-building step (a DoReMi/Pile-style weighted
    recipe applied at the data level): given integer mixture
    proportions per domain, keep the largest hash-stable subset whose
    domain shares match the recipe, without oversampling any domain.
    Domains not named in ``parts`` are dropped (weight 0).

    Two phases: a metadata-scale count per domain (one groupBy on a
    low-cardinality column, collected — same scale class as
    ``_vec_dim``), then exact integer thresholds applied as one
    md5-bucket filter (``hash_bucket``), which is a pure map over the
    scan: membership is stable across runs, partitionings, and
    engines, and the filter pushes below any downstream shuffle.
    """
    counts = {
        r["d"]: r["c"]
        for r in df.filter(F.col(domain_col).isin(list(parts)))
        .groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    thresholds = mixture_thresholds(counts, parts)
    threshold_col = None
    for value, t in thresholds.items():
        cond = F.col(domain_col) == value
        threshold_col = (
            F.when(cond, F.lit(t))
            if threshold_col is None
            else threshold_col.when(cond, F.lit(t))
        )
    threshold_col = threshold_col.otherwise(F.lit(0))
    return df.filter(hash_bucket(F.col(key_col)) < threshold_col)


def split_thresholds(weights: list[tuple[str, float]]) -> list[tuple[str, int]]:
    """Cumulative integer bucket thresholds for ``split_assign``, in
    EXACT arithmetic: each weight is converted to an exact rational
    via its decimal string (``Fraction(str(w))`` — so 0.9 means the
    decimal 0.9, not the nearest float), normalized, and floored onto
    ``BUCKETS``. The last split takes everything past the previous
    threshold (no entry). One shared derivation for the engine
    when-chain AND any generated oracle SQL — float rounding never
    decides a membership boundary. Raises if a positive-weight split
    would get an empty bucket range (silent-empty splits are a foot-
    gun, not a degenerate success)."""
    from fractions import Fraction
    from math import floor

    if len(weights) < 2:
        raise ValueError("split_assign needs at least two splits")
    fracs = [(name, Fraction(str(w))) for name, w in weights]
    total = sum(f for _, f in fracs)
    if total <= 0 or any(f < 0 for _, f in fracs):
        raise ValueError("split weights must be non-negative with a positive sum")
    out: list[tuple[str, int]] = []
    cum = Fraction(0)
    prev = 0
    for name, f in fracs[:-1]:
        cum += f
        t = floor(cum / total * BUCKETS)
        if f > 0 and t <= prev:
            raise ValueError(
                f"split {name!r}: weight {f} yields an empty bucket range "
                f"at {BUCKETS} buckets"
            )
        out.append((name, t))
        prev = t
    last_name, last_f = fracs[-1]
    if last_f > 0 and prev >= BUCKETS:
        raise ValueError(
            f"split {last_name!r}: weight {last_f} yields an empty bucket range "
            f"at {BUCKETS} buckets"
        )
    return out


def split_assign(
    df: DataFrame,
    key_col: str,
    weights: list[tuple[str, float]] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe deterministic train/val/test assignment: one
    ``split`` label per row from a salted md5 bucket of ``key_col``.

    Keying on the right column IS the leakage guard — key on doc_id
    and near-duplicate pages of the same document can straddle train
    and test; key on a group id (url/domain/cluster) and the whole
    group lands in one split. Membership is stable across runs,
    partitionings, and engines (no ``randomSplit``, whose assignment
    changes with partitioning), disjoint salts give independent
    re-splits, and the label is a pure map over the scan — no shuffle,
    evaluable at 100 TB inside the first stage of any plan.

    ``weights`` are (name, weight) pairs in priority order; they are
    normalized and converted to EXACT cumulative integer thresholds
    over ``BUCKETS`` by ``split_thresholds`` (rational arithmetic —
    the one derivation any generated oracle SQL must also call), then
    applied as one ``when``-chain on a single bucket evaluation."""
    weights = weights or [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    b = hash_bucket(F.col(key_col), salt)
    expr = None
    for name, threshold in split_thresholds(weights):
        cond = b < F.lit(threshold)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(weights[-1][0]))
    return df.withColumn("split", expr)


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the downsample-the-
    majority-class shape (e.g. per-language or per-source quotas in a
    pretraining mix). ``rates`` maps stratum value -> keep fraction."""
    threshold = None
    for value, rate in rates.items():
        cond = F.col(stratum_col) == value
        t = F.lit(int(rate * BUCKETS))
        threshold = F.when(cond, t) if threshold is None else threshold.when(cond, t)
    threshold = (
        threshold.otherwise(F.lit(int(default_rate * BUCKETS)))
        if threshold is not None
        else F.lit(int(default_rate * BUCKETS))
    )
    return df.filter(hash_bucket(F.col(key_col)) < threshold)


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str,
    weight_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, ``n`` rows
    per group (Efraimidis-Spirtsos A-Res): each row draws the uniform
    u from its salted key hash (reproducible across runs, partitions,
    and engines — the same canonical ``hash_u32`` every sampler here
    uses) and gets priority -ln(u) / weight; the n SMALLEST
    priorities per group are exactly a weight-proportional sample
    without replacement.  Rides ``topn_per_group``, so the plan is
    one shuffle on the group key with WindowGroupLimit capping
    per-task output at n — a 10^9-row group ships n rows, not its
    tail.  Rows with NULL/non-positive weight carry no mass and are
    excluded.  The priority column stays in the output so downstream
    resumption/dedup can re-verify membership without re-hashing.
    """
    from gapless_deribit_clickhouse_spark.operators.topk import topn_per_group

    u = (hash_u32(F.col(key_col), salt) + 1).cast("double") / F.lit(2.0**32)
    pri = -F.log(u) / F.col(weight_col).cast("double")
    out = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("priority", pri)
    return topn_per_group(
        out,
        [group_col],
        [F.col("priority").asc(), F.col(key_col).asc()],
        n,
    )


def temperature_thresholds(counts: dict[str, int], target_total: int) -> dict[str, int]:
    """Per-domain integer thresholds for temperature-2 (alpha = 1/2)
    domain rebalancing: sampling weight q_d proportional to
    sqrt(count_d) — the standard multilingual-pretraining smoothing
    that upweights small domains relative to proportional sampling.

    All arithmetic is exact integers (``math.isqrt``, bigint
    products), mirrored 1:1 by the DuckDB oracle's
    ``floor(sqrt(c))``-based HUGEINT formula — no float ever decides a
    row's membership. Per-domain expected draws = target_total *
    isqrt(c_d) / sum_d isqrt(c_d), capped at rate 1 (a domain smaller
    than its temperature share is taken whole, not oversampled).
    """
    import math

    isq = {d: math.isqrt(c) for d, c in counts.items() if c > 0}
    s = sum(isq.values())
    if s == 0:
        return {d: 0 for d in counts}
    return {
        d: min(BUCKETS, target_total * BUCKETS * isq[d] // (s * counts[d]))
        if d in isq
        else 0
        for d in counts
    }


def temperature_sample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    target_fraction_num: int = 1,
    target_fraction_den: int = 2,
    salt: str = "",
) -> DataFrame:
    """Deterministically rebalance domains by temperature-2 sampling:
    keep ~``target_fraction`` of the corpus with per-domain rates
    proportional to 1/sqrt(count_d) relative to the domain's natural
    share (small domains keep more of themselves, large domains less).

    Same two-phase shape as :func:`mixture_sample`: a metadata-scale
    domain count (one groupBy on a low-cardinality column, collected),
    then one md5-bucket map filter that pushes below any downstream
    shuffle. ``target_fraction`` is an exact rational so the
    target-total derivation (``total * num // den``) is bit-identical
    in the oracle.
    """
    counts = {
        r["d"]: r["c"]
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    target = sum(counts.values()) * target_fraction_num // target_fraction_den
    thresholds = temperature_thresholds(counts, target)
    threshold_col = None
    for value, t in thresholds.items():
        cond = F.col(domain_col) == value
        threshold_col = (
            F.when(cond, F.lit(t))
            if threshold_col is None
            else threshold_col.when(cond, F.lit(t))
        )
    threshold_col = (
        F.lit(0) if threshold_col is None else threshold_col.otherwise(F.lit(0))
    )
    return df.filter(hash_bucket(F.col(key_col), salt) < threshold_col)


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int = 0,
    salt: str = "shuffle",
    shards: int = 256,
) -> DataFrame:
    """Deterministic global training order for one epoch: every row
    gets its exact 0-based position in the corpus ordered by
    ``md5("{salt}:{epoch}:" || key)`` (ties broken by the key), the
    standard reproducible-shuffle contract — the SAME permutation on
    every rerun, engine, and partitioning, and a fresh independent
    permutation per epoch (the hash prefix changes). ``df.orderBy
    (rand())`` gives none of that, and the naive deterministic
    alternative — ``row_number() OVER (ORDER BY hash)`` — funnels
    100 TB through ONE partition for the global sort.

    Scale design — exact global rank with no global window: the
    32-bit hash prefix splits rows into ``shards`` ORDER-PRESERVING
    ranges (shard = hash_u32 * shards >> 32, monotone in the hash, so
    every row of shard s sorts before every row of shard s+1 —
    hex md5 string order IS the numeric order of the hash). Rank =
    per-shard ``row_number`` (a partitioned window, never global)
    plus the shard's offset — cumulative counts over a ``shards``-row
    aggregate, broadcast back. Cost: one map-side-combined count
    aggregate + one data shuffle on the shard id. ``epoch_rank`` is
    independent of ``shards``, which only tunes parallelism.

    Writing the epoch in order is then
    ``.repartitionByRange("epoch_rank").sortWithinPartitions
    ("epoch_rank")`` — contiguous, globally ordered shards.

    NULL keys hash as the empty string (kept, deterministic) — but a
    non-unique key makes positions within a tie bucket arbitrary;
    use a unique id.
    """
    from pyspark.sql import Window

    prefix = f"{salt}:{epoch}:"
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    full_hash = F.md5(F.concat(F.lit(prefix), key_str))
    shard = (
        (hash_u32(key_str, prefix) * F.lit(int(shards))) / F.lit(2**32)
    ).cast("int")
    d = df.withColumn("__h", full_hash).withColumn("__s", shard)

    # offsets: a `shards`-row aggregate; the running sum's single-
    # partition window sorts `shards` rows, metadata-scale
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__off", F.coalesce(F.sum("__c").over(w), F.lit(0)))
        .drop("__c")
    )
    rank_in_shard = F.row_number().over(
        Window.partitionBy("__s").orderBy("__h", key_col)
    )
    return (
        d.join(F.broadcast(offsets), "__s")
        .withColumn("epoch_rank", (F.col("__off") + rank_in_shard - 1).cast("long"))
        .drop("__h", "__s", "__off")
    )
