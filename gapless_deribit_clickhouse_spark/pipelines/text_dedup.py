"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the whole point — these run over billions of docs):

- exact_dedup: hash-groupBy on a text digest. One shuffle on the
  digest (uniform key -> no skew); keeps min doc_id per group.
- ngram_jaccard_pairs: shingle -> explode -> bucket by the shingle,
  count co-occurrences, normalize by set sizes. Never all-pairs: the
  bucket key is the shingle.
- minhash_lsh_pairs: k md5-derived min-hashes -> b bands of r rows ->
  band-hash bucket join -> candidate pairs -> exact Jaccard verify.
  Shuffle is on band buckets — the standard sub-quadratic LSH shape.
- simhash64: 64-bit weighted-bit fingerprint from token md5s; near-dup
  = hamming distance <= k, bucketed by 4×16-bit chunks (pigeonhole:
  hamming<=3 over 4 chunks guarantees one exact chunk match).

Everything is built from md5 (deterministic, available in Spark,
DuckDB, and Python) — no engine-specific hash functions, so oracles
and tests can reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.partitioning import (
    ensure_parallelism,
    spread_expansion,
)
from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE


def normalized_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the canonical form all dedup
    operators hash."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame) -> DataFrame:
    """One row per distinct normalized text: the min ``doc_id`` wins.
    Adds ``dup_count`` (group size)."""
    digest = F.md5(normalized_text(F.col("text")))
    return (
        df.groupBy(digest.alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def gram_array(toks: Column, n: int) -> Column:
    """All overlapping word ``n``-grams of a token-array column
    (non-distinct; short arrays yield the single whole-text gram).

    Perf-critical shape: higher-order functions are interpreted (no
    codegen), and any outer expression referenced inside the lambda is
    RE-EVALUATED per element — a lambda that slices
    ``split(normalize(text))`` re-runs the regex+split once per gram,
    O(tokens²) character work per document (measured ~25x slower on
    300-char docs). Instead we zip ``n`` shifted slices of the token
    array and concat within the element, so the token array is
    evaluated a constant number of times per row and the lambda
    touches only its own element."""
    sz = F.size(toks)
    shifted = [F.slice(toks, i + 1, sz - (n - 1)) for i in range(n)]
    # non-named zip inputs get positional struct fields "0".."n-1"
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda z: F.concat_ws(" ", *[z[str(i)] for i in range(n)]),
    )
    return F.when(sz >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) of the normalized text."""
    toks = F.split(normalized_text(col), " ")
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(gram_array(toks, n))


def _shingle_pair_intersections(df: DataFrame, n: int) -> DataFrame:
    """(id_a < id_b, sz_a, sz_b, inter) for every doc pair sharing at
    least one word n-gram — the exact-intersection core both
    :func:`ngram_jaccard_pairs` (symmetric overlap) and
    :func:`containment_pairs` (asymmetric overlap) reduce with their
    own formula."""
    # shingle the text ONCE; |A| comes from the array length (no
    # second explode+groupBy), and the join key is a 64-bit hash of
    # the shingle, not the string — ~4x less shuffle volume, and both
    # join sides share one identical exchange (Spark ReusedExchange).
    arr = ensure_parallelism(df).select(
        F.col("doc_id").alias("id"), shingles(F.col("text"), n).alias("__arr")
    )
    sh = arr.select(
        "id",
        F.size("__arr").alias("sz"),
        F.explode(F.transform("__arr", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    # Co-occurrence WITHOUT a self-join: bucket by shingle, generate
    # ordered in-bucket pairs, count pair occurrences. A self-join
    # would scan+shingle+explode the corpus twice (no ReusedExchange
    # across aliased subtrees); this shape computes it once and
    # shuffles twice total. An f-doc bucket emits f(f-1)/2 pairs.
    ds = sh.groupBy("shingle").agg(F.collect_list(F.struct("id", "sz")).alias("ds"))
    # The in-bucket pair EXPLOSION below emits ~4x its input bytes
    # (f(f-1)/2 pairs per f-doc bucket), but AQE sizes the post-agg
    # stage by the exchange's INPUT bytes and coalesces it to a
    # handful of tasks (4 tasks / 1.1 s of the entry's 1.5-1.9 s at
    # sf0.1 — guide §2.5: output-expanding stages need parallelism the
    # input size doesn't justify). Re-spreading the narrow bucket rows
    # costs one cheap exchange and runs the expansion at core count
    # (optimization r12).
    ds = spread_expansion(ds)
    pairs_col = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                lambda y: F.when(
                    x["id"] < y["id"], F.struct(x.alias("a"), y.alias("b"))
                ).otherwise(F.struct(y.alias("a"), x.alias("b"))),
            ),
        )
    )
    pairs = ds.filter(F.size("ds") >= 2).select(F.explode(pairs_col).alias("p"))
    return pairs.groupBy(
        F.col("p.a.id").alias("id_a"),
        F.col("p.b.id").alias("id_b"),
        F.col("p.a.sz").alias("sz_a"),
        F.col("p.b.sz").alias("sz_b"),
    ).agg(F.count(F.lit(1)).alias("inter"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs with exact n-gram Jaccard >= threshold.

    |A∩B| via shingle buckets; |A∪B| = |A|+|B|−|A∩B|. Output:
    id_a < id_b, jaccard.
    """
    out = _shingle_pair_intersections(df, n)
    return (
        out.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric near-containment pairs: |A∩B| / min(|A|, |B|) >=
    ``threshold`` over word n-gram shingle sets — the duplication
    class symmetric Jaccard MISSES (a short document quoted whole
    inside a much longer one has containment ~1 but Jaccard
    ~|small|/|large|; boilerplate-wrapped re-posts and quote-expansion
    dups live here). Output: id_a < id_b, ``containment``,
    ``contained_id`` (the smaller side — the one a dedup policy would
    drop), plus ``jaccard`` for triage.

    Scale design: the SAME single-scan shingle-bucket intersection
    core as :func:`ngram_jaccard_pairs` (one corpus shingle pass, two
    shuffles) — containment is a formula on (inter, sz_a, sz_b), not a
    new join. This is the exact
    tier; a banded-LSH candidate stage does NOT drop in here because
    MinHash collision probability estimates Jaccard, which is
    precisely the measure containment disagrees with on the pairs
    this operator exists for."""
    out = _shingle_pair_intersections(df, n)
    return (
        out.withColumn(
            "containment",
            F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            "containment",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
            F.when(F.col("sz_a") <= F.col("sz_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
        )
    )


def interdoc_repetition(df: DataFrame, min_docs: int = 5) -> DataFrame:
    """Per-document inter-document repetition score: the fraction of a
    document's distinct word 3-grams that also appear in at least
    ``min_docs`` documents (RefinedWeb/C4-style duplicated-n-gram
    fraction — the doc-level boilerplate signal that catches template
    pages and mirror spam). Output: (doc_id, n_shingles,
    shared_shingles, shared_fraction).

    Scale shape: shingle once, explode 64-bit shingle hashes (not
    strings — ~4x less shuffle), annotate each (doc, shingle) row with
    its shingle's document frequency via ``count() OVER (PARTITION BY
    shingle)``, and reduce per document with a conditional sum. The
    window REPLACES the naive aggregate-then-join-back plan (which
    scans and shingles the corpus twice — self-consuming subtrees
    diverge under column pruning, so exchange reuse cannot rescue it):
    exactly ONE corpus scan and two shuffles (shingle, then doc_id).
    A stop-shingle shared by millions of documents is one big — but
    disk-backed — window partition, never a per-shingle collect_list
    (the hot-key case a gather-based formulation OOMs on). Linear in
    corpus size — unlike pair emission there is no clique blowup, so
    no frequency cap is needed; output is exactly one row per
    document."""
    from pyspark.sql import Window

    arr = ensure_parallelism(df).select(
        F.col("doc_id"), shingles(F.col("text")).alias("__arr")
    )
    sh = arr.select(
        "doc_id",
        F.explode(F.transform("__arr", lambda s: F.xxhash64(s))).alias("sh"),
    )
    # shingles are distinct per doc, so the partition row count IS the
    # document frequency
    df_count = F.count(F.lit(1)).over(Window.partitionBy("sh"))
    shared = F.sum(
        F.when(F.col("df_count") >= min_docs, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        sh.withColumn("df_count", df_count)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            shared.alias("shared_shingles"),
        )
        .withColumn(
            "shared_fraction", F.col("shared_shingles") / F.col("n_shingles")
        )
    )


def _md5_hash64(col: Column, seed: int) -> Column:
    """Deterministic 60-bit hash: first 15 hex chars of md5(seed||x)
    parsed base-16. Reproducible everywhere (DuckDB oracle re-derives
    the same bits from the hex digits)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), col)), 1, 15), 16, 10).cast(
        "long"
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1; (p-1)^2 fits in int64


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod p`` — the same scheme as Spark ML's
    MinHashLSH. Shared by the Spark operator and the DuckDB oracle."""
    import random

    rng = random.Random(12345)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def _hashed_shingles(df: DataFrame, n: int, base_hash: str) -> DataFrame:
    """(id, __harr): the hashed-shingle array — the ONE
    tokenize+shingle+hash pass both the signature minima and the
    exact-Jaccard verification derive from. Values are UNREDUCED
    (60-bit md5 prefix / full signed xxhash64) so the verification
    sets keep an effectively collision-free domain; the mod-p
    reduction the affine minhash family needs happens inside
    :func:`_signatures_from_hashed` — reducing here would shrink the
    comparison domain to 31 bits and let unrelated large shingle sets
    accrue spurious intersections. ``shingles()`` is distinct and the
    hash effectively injective at this width, so ``__harr`` doubles as
    the comparison set.

    ``base_hash``: ``md5`` is bit-reproducible in the DuckDB oracle;
    ``xxhash64`` is the scale path — the same codegen'd 64-bit hash
    Spark's own MinHashLSH family builds on, ~3x cheaper than a hex
    digest + parse, engine-internal only. Signatures are NOT
    comparable across the two modes."""
    arr = ensure_parallelism(df).select(
        F.col("doc_id").alias("id"), shingles(F.col("text"), n).alias("__arr")
    )
    if base_hash == "md5":
        base = (
            "CAST(conv(substring(md5(concat('0:', s)), 1, 15), 16, 10) "
            "AS BIGINT)"
        )
    elif base_hash == "xxhash64":
        base = "xxhash64(s)"
    else:
        raise ValueError(f"base_hash must be md5|xxhash64, got {base_hash!r}")
    return arr.select(
        "id",
        F.expr(f"transform(__arr, s -> {base})").alias("__harr"),
    )


def _signatures_from_hashed(harr: DataFrame, num_hashes: int) -> DataFrame:
    # pmod reduces the unreduced base into [0, p) first (matching the
    # former reduced-at-hash-time values exactly: 60-bit md5 prefixes
    # are non-negative so % == pmod, and the xxhash64 branch always
    # used pmod), then the affine family; (p-1)^2 fits in int64.
    # The (a, b) family is a LITERAL struct array folded by ONE outer
    # lambda (optimization r13): the former num_hashes separate
    # `array_min(transform(...))` expressions each carried their own
    # lambda, and analyzing/optimizing 210 lambda bindings (the
    # auto-sized threshold-0.8 family) cost ~4x this form per
    # construction — same integer arithmetic, element order, and
    # values, byte-identical signatures.
    p = MINHASH_PRIME
    fam = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)"
        for a, b in minhash_affine_params(num_hashes)
    )
    sig = (
        f"transform(array({fam}), pr -> "
        f"array_min(transform(__harr, h -> (pmod(h, {p}L) * pr.a + pr.b) % {p}L)))"
    )
    return harr.select("id", F.expr(sig).alias("signature"))


def minhash_params(threshold: float, target_recall: float = 0.9) -> tuple[int, int]:
    """Derive ``(num_hashes, bands)`` for banded MinHash-LSH from the
    Jaccard threshold.

    A band of ``r`` rows matches a pair at Jaccard ``s`` with ``s**r``;
    ``B`` bands give recall ``1 − (1 − s**r)**B``. Larger ``r`` is more
    selective (random low-similarity pairs collide at ``s_low**r``),
    so we pick the LARGEST ``r`` whose band count for the recall
    target still fits a 256-hash signature budget. The bucket count
    is the full hash space, so corpus size does not enter —
    selectivity is governed by ``r`` alone.
    """
    import math

    s = min(max(threshold, 1e-6), 1.0 - 1e-9)
    best = (1, 1)
    for r in range(1, 17):
        sr = s**r
        b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - sr)))
        if r * b <= 256:
            best = (r, b)
    r, b = best
    return (r * b, b)


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_hash) rows from a signature table: each band's
    sub-signature md5-hashed to one join key — the LSH bucket key both
    the all-pairs and the incremental operators shuffle on."""
    r = num_hashes // bands
    band_sql = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"signature[{b * r + i}]" for i in range(r))
        + "))"
        for b in range(bands)
    )
    return sig.select(
        "id", F.posexplode(F.expr(f"array({band_sql})")).alias("band", "band_hash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int | None = 32,
    bands: int | None = 8,
    threshold: float = 0.5,
    base_hash: str = "md5",
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact Jaccard.

    rows-per-band r = num_hashes//bands; candidate iff some band's
    sub-signature matches exactly (bucket equi-join on the band hash —
    sub-quadratic, shuffle keyed by (band, hash)). Verification joins
    candidates back to shingle sets and keeps jaccard >= threshold.

    ``num_hashes=None`` auto-sizes the signature from ``threshold``
    via :func:`minhash_params` (the defaults 32/8 stay for oracle
    stability).
    """
    if num_hashes is None or bands is None:
        auto_hashes, auto_bands = minhash_params(threshold)
        num_hashes = auto_hashes if num_hashes is None else num_hashes
        bands = auto_bands if bands is None else bands
    # the hashed-shingle pass (tokenize + shingle + per-shingle hash —
    # the dominant map cost of the whole tier) runs ONCE and feeds
    # both the signature minima and the verification sets; without the
    # lazy localCheckpoint barrier Catalyst executes the projection
    # once per consumer (VERDICT r7 #3: the sig and verify branches
    # each re-tokenized)
    harr = _hashed_shingles(df, n, base_hash).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    sig = _signatures_from_hashed(harr, num_hashes)
    banded = _banded(sig, num_hashes, bands)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "band_hash"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # verify with exact Jaccard WITHOUT exploding again: join each
    # candidate pair to the two docs' hashed-shingle ARRAYS and
    # intersect per pair — candidates are few (that's the point of
    # LSH), so two narrow joins + array_intersect beat re-exploding
    # the corpus into two more shuffles. array_distinct guards the
    # set sizes against the (negligible) within-doc hash collision.
    arr = harr.select("id", F.array_distinct("__harr").alias("sset"))
    joined = (
        cand.join(arr.withColumnsRenamed({"id": "id_a", "sset": "set_a"}), "id_a")
        .join(arr.withColumnsRenamed({"id": "id_b", "sset": "set_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    base_hash: str = "md5",
) -> DataFrame:
    """60-bit SimHash over unigram tokens: for each bit, sum(+1/−1 by
    token-hash bit) > 0. Pure column algebra: explode tokens, hash ->
    60-bit int, per-bit vote via groupBy sum — one shuffle.

    ``base_hash``: ``md5`` (default) is bit-reproducible in the DuckDB
    oracle; ``xxhash64`` is the scale path (codegen'd 64-bit hash, no
    hex digest + parse — same tradeoff as the MinHash tier).
    Signatures are NOT comparable across the two modes."""
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))).alias("tok"),
    )
    # hash in a projection BELOW the aggregate: vote expressions
    # reference the already-computed long instead of embedding their
    # own md5+conv subtree (aggregate expressions don't get
    # subexpression elimination -> it would re-run md5 per vote).
    if base_hash == "md5":
        toks = toks.select("id", _md5_hash64(F.col("tok"), 0).alias("__h"))
    elif base_hash == "xxhash64":
        # two's-complement bits of a signed long are still uniform
        toks = toks.select("id", F.xxhash64("tok").alias("__h"))
    else:
        raise ValueError(f"base_hash must be md5|xxhash64, got {base_hash!r}")
    h = F.col("__h")
    # Pack the 60 per-bit one-counts into 15 longs of 4x16-bit lanes:
    # aggregation state (and therefore partial-agg shuffle bytes) is
    # 15 longs + count instead of 60 longs, and the generated agg code
    # is 4x narrower. Lanes can't overflow below 65k tokens per doc
    # (array_distinct'd unigrams — far beyond any real document).
    # built as SQL strings: one F.expr = one py4j call + one JVM parse,
    # vs hundreds of Column-API round-trips for the same tree
    def lane_sql(i: int) -> str:
        terms = " + ".join(
            f"shiftleft(CAST(shiftright(__h, {4 * i + j}) & 1 AS BIGINT), {16 * j})"
            for j in range(4)
        )
        return f"sum({terms}) AS p{i}"

    agg = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.expr(lane_sql(i)) for i in range(15)],
    )
    # bit b set iff ones > zeros iff 2*ones_count > n
    total_sql = " + ".join(
        f"IF((shiftright(p{b // 4}, {16 * (b % 4)}) & 65535) * 2 > __n, "
        f"{2**b}L, 0L)"
        for b in range(60)
    )
    return agg.select("id", F.expr(total_sql).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    base_hash: str = "md5",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= k, found by bucketing
    on 15-bit chunks (pigeonhole over 4 chunks covers k <= 3).

    The signature table is localCheckpointed before the chunk-bucket
    self-join: aliased self-join subtrees get no exchange reuse, so
    without the barrier the whole tokenize+explode+15-lane vote
    aggregation — the corpus-scale cost of the operator — executes
    once per side. The checkpoint is one long per document,
    metadata-scale.

    Pair dedup is a FILTER, not a ``distinct()`` (r11): a pair whose
    signatures agree in m chunks comes out of the chunk-bucket join
    exactly m times — once per shared chunk — and "this chunk is the
    first zero 15-bit slice of sh_a XOR sh_b" is true for exactly one
    of those copies. The old distinct shuffled the full candidate set
    (the operator's only post-checkpoint exchange); the filter does
    the same dedup with pure column algebra, and at 100 TB removes the
    one stage whose cost grows with the candidate count."""
    sig = simhash64(df, base_hash=base_hash).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    chunks = F.array(*[
        F.shiftright(F.col("simhash"), c * 15).bitwiseAND(F.lit(0x7FFF)).alias(f"c{c}")
        for c in range(4)
    ])
    b = sig.select("id", "simhash", F.posexplode(chunks).alias("chunk", "chunk_val"))
    cand = (
        b.alias("x")
        .join(b.alias("y"), on=["chunk", "chunk_val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("chunk"),
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").bitwiseXOR(F.col("y.simhash")).alias("xr"),
        )
    )
    first_zero_chunk = (
        F.when(F.expr("(xr & 32767L) = 0"), 0)
        .when(F.expr("(shiftright(xr, 15) & 32767L) = 0"), 1)
        .when(F.expr("(shiftright(xr, 30) & 32767L) = 0"), 2)
        .otherwise(3)
    )
    return (
        cand.filter(F.col("chunk") == first_zero_chunk)
        .withColumn("hamming", F.bit_count(F.col("xr")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def near_dedup_corpus(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """The one-call near-dedup filter: exact dedup -> MinHash-LSH
    candidate pairs -> connected components -> keep one canonical doc
    per cluster. Returns the KEPT rows of ``df`` (all original
    columns), i.e. the corpus with exact and near duplicates removed.

    Pipeline order is the standard scale recipe:
    exact dedup FIRST collapses exact-duplicate cliques to one row, so
    the pair-generating LSH stage never sees them (pair output is
    inherently quadratic in clique size). The canonical survivor of a
    cluster is the minimum id (deterministic, matching
    ``exact_dedup``'s winner).

    Shuffle budget: ONE semi-join shuffle for the exact tier (keeping
    full rows per distinct text cannot avoid it), the LSH stages on
    the deduped survivors, then a final ANTI join against the
    near-duplicate loser set — which contains only ids that lost a
    connected-components election, so it is near-dup-count-sized, not
    corpus-sized; AQE turns the anti join into a broadcast at runtime
    when it is small (the common case). ``survivors`` is
    local-checkpointed (lazily, the ``connected_components`` pattern)
    because the components stage runs its own actions: without the
    lineage cut, the final anti join would re-execute the exact-tier
    scan + groupBy + semi join a second time.
    """
    from gapless_deribit_clickhouse_spark.operators.connected_components import (
        connected_components,
    )

    winners = exact_dedup(df).select("doc_id")
    survivors = df.join(winners, "doc_id", "semi").localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    pairs = minhash_lsh_pairs(
        survivors,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    cc_stats: dict = {}
    comp = connected_components(pairs, stats=cc_stats)
    if cc_stats.get("input_edges") == 0:
        # no near-dup pairs at all (the steady-state common case for a
        # clean corpus): the loser set is empty by construction, so the
        # anti join is the identity — skip it (optimization r13)
        return survivors
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return survivors.join(losers, "doc_id", "left_anti")


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Dedup a NEW batch against itself AND an existing corpus,
    without re-clustering the corpus — the steady-state shape of a
    100 TB pipeline, where crawls arrive in batches and the
    already-deduped corpus must never be re-paired against itself.

    Returns the kept rows of ``new_df`` (all original columns): docs
    that survive (1) within-batch exact + near dedup
    (``near_dedup_corpus`` — min-id canonical per cluster), (2) an
    exact anti-join against the corpus's normalized-text digests, and
    (3) a banded-LSH candidate join of batch signatures against
    corpus signatures with exact-Jaccard verification — a new doc
    with jaccard >= threshold against ANY corpus doc is dropped. The
    signature is auto-sized from ``threshold`` (:func:`minhash_params`)
    over word 3-gram md5 shingles.

    Corpus-side cost is a few NARROW passes (text digest; in-row
    minhash signature + band explosion; shingle arrays for the
    candidate verification) — no corpus-corpus pairs are ever
    generated (that work happened when the corpus was built). The
    corpus-side tables are recomputed from ``corpus_df`` on every
    call. Candidate volume is batch-sized x band-collision rate, so the
    cross join scales with the BATCH, not the corpus."""
    num_hashes, bands = minhash_params(threshold)

    # Corpus-side hashed shingles behind a lazy checkpoint: the
    # signature minima and the verification sets both read them.
    harr_corp = _hashed_shingles(corpus_df, 3, "md5").localCheckpoint(
        eager=False, storageLevel=BARRIER_STORAGE
    )

    # (1) within-batch exact + near dedup. No extra barrier here: the
    # chain's reuse point is the post-digest checkpoint below, and
    # near_dedup_corpus's own ``survivors`` checkpoint already cuts
    # the expensive prefix, so this plan segment executes exactly once
    # (optimization r13 removed a redundant second block-store write
    # of the full batch text between the two).
    batch = near_dedup_corpus(
        new_df, threshold=threshold, num_hashes=num_hashes, bands=bands
    )

    # (2) exact tier vs corpus: anti-join on the normalized digest
    # (temp column name dodges any real column on the caller's input —
    # the contract is "all original columns back", including weird ones)
    h = "__h"
    while h in batch.columns:
        h += "_"
    digest = F.md5(normalized_text(F.col("text")))
    corpus_hashes = corpus_df.select(digest.alias(h)).distinct()
    batch = batch.withColumn(h, digest).join(
        corpus_hashes, h, "left_anti"
    ).drop(h).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)

    # (3) near tier vs corpus: band-bucket equi-join between batch and
    # corpus signatures, then exact-Jaccard verification on the
    # candidates only. Each side runs the tokenize+shingle+hash pass
    # ONCE (the minhash_lsh_pairs r8 pattern): the hashed-shingle
    # projection feeds both the signature minima and the verification
    # sets from behind a lazy localCheckpoint barrier. The arrays are
    # never carried THROUGH the band explosion (that would multiply
    # them across `bands` exploded rows); the checkpoint trades
    # executor-local storage of the hashed arrays for half the map
    # passes — the same trade ``survivors`` above already makes for
    # the batch text itself.
    harr_new = _hashed_shingles(batch, 3, "md5").localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    sig_new = _signatures_from_hashed(harr_new, num_hashes)
    sig_corp = _signatures_from_hashed(harr_corp, num_hashes)
    cand = (
        _banded(sig_new, num_hashes, bands)
        .withColumnRenamed("id", "new_id")
        .join(
            _banded(sig_corp, num_hashes, bands).withColumnRenamed("id", "corp_id"),
            ["band", "band_hash"],
        )
        .select("new_id", "corp_id")
        .distinct()
    )

    def _sets(harr: DataFrame, out_id: str, out_set: str) -> DataFrame:
        return harr.select(
            F.col("id").alias(out_id),
            F.array_distinct("__harr").alias(out_set),
        )

    joined = cand.join(_sets(harr_new, "new_id", "set_a"), "new_id").join(
        _sets(harr_corp, "corp_id", "set_b"), "corp_id"
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    losers = (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return batch.join(losers, "doc_id", "left_anti")


def substring_dup_fraction(df: DataFrame, window: int = 8) -> DataFrame:
    """Per-document fraction of token POSITIONS covered by a
    ``window``-token substring that also appears verbatim in at least
    one OTHER document — the exact-substring duplication metric of
    dedup pipelines that REMOVE duplicated spans rather than whole
    near-duplicate docs (complement of the doc-level MinHash tier:
    catches boilerplate shared across otherwise-distinct documents).

    Positional, not set-based: unlike :func:`ngram_jaccard_pairs`'s
    distinct-shingle Jaccard, the unit here is a token position, and a
    position counts once no matter how many windows cover it — the
    union-of-intervals coverage a span-removal pass would cut.

    Scale shape: tokens -> positioned windows (posexplode; ~n_tokens
    rows per doc) -> window-content groupBy keeping contents seen in
    >= 2 distinct docs -> equi-join back -> per-position distinct ->
    per-doc count. Never all-pairs; the join key is a 64-bit hash of
    the window content, so shuffle rows are (id, pos, int64), and the
    duplicated-window side is typically a small fraction of the corpus
    (AQE broadcasts it when it is). Documents shorter than ``window``
    tokens contribute their whole text as one window, mirroring
    :func:`gram_array`.
    """
    toks = F.split(normalized_text(F.col("text")), " ")
    # The barrier sits BEFORE the positional explode (optimization
    # r13, revising r12's post-explode placement that regressed at
    # sf0.1): the heavy tokenize+gram+hash pass still runs exactly
    # once for all three consumers, but the block store now holds ONE
    # compact int64-array row per document instead of ~n_tokens
    # exploded rows — the r12 barrier's block-store tax exceeded the
    # saved map pass at bench scale. Each consumer re-runs only the
    # posexplode (pure expansion of in-memory longs). Interleaved
    # A/B/C at sf0.1: post-explode ckpt 1.24s / no ckpt 1.15s / this
    # form 1.12s (and this form is the only one that also feeds
    # per_doc below without a THIRD tokenize pass).
    hbase = ensure_parallelism(df).select(
        F.col("doc_id").alias("id"),
        F.size(toks).alias("n_tokens"),
        F.transform(gram_array(toks, window), lambda g: F.xxhash64(g)).alias(
            "__harr"
        ),
    ).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    base = hbase.select(
        "id", "n_tokens", F.posexplode("__harr").alias("pos", "h")
    )
    dup_h = (
        base.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    covered = (
        base.join(dup_h, "h")
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("pos"),
                    F.least(F.col("pos") + window - 1, F.col("n_tokens") - 1),
                )
            ).alias("p"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_positions"))
    )
    # token counts ride the checkpoint — the former df.select(size(
    # toks)) branch re-ran the whole normalize+split serially on the
    # scan task just to count tokens (optimization r13)
    per_doc = hbase.select("id", "n_tokens")
    return (
        per_doc.join(covered, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            (
                F.coalesce("n_dup_positions", F.lit(0))
                / F.col("n_tokens")
            ).alias("dup_fraction"),
        )
    )


def segment_dedup(df: DataFrame, seg_tokens: int = 10) -> DataFrame:
    """Corpus-wide duplicated-segment REMOVAL — the transform
    counterpart of :func:`substring_dup_fraction`'s metric, and the
    fixed-span analogue of C4's duplicate-line drop (the corpus here
    has no newlines, so the segmentation unit is ``seg_tokens``
    consecutive normalized tokens instead of a line).

    Every document is split into consecutive ``seg_tokens``-token
    segments (the tail keeps whatever remains). A segment survives
    only at its canonical first occurrence — lowest ``(doc_id,
    seg_idx)`` across the whole corpus — so repeated boilerplate is
    kept exactly once and cut everywhere else, including repeats
    within one document. Surviving segments are reassembled in
    original order.

    Scale shape: ONE scan — tokens -> segments (posexplode over a
    PROJECTED token array, so the split runs once per doc, not once
    per segment) -> one shuffle on the segment text for the
    canonical-occurrence window (uniform key: segment content) -> one
    shuffle on the doc id where a single conditional aggregation
    yields totals, survivor count, and the reassembled text together
    (no totals-vs-kept diamond, no join). At 100 TB both shuffles
    carry one row per segment, a ``seg_tokens``-fold reduction over
    token-level keys.

    Reference parity: the reference dedups whole rows at read time
    (ReplacingMergeTree FINAL); span-level curation is the LLM-tier
    extension the task brief asks for (C4 §2.3-style line dedup).
    """
    from pyspark.sql import Window

    segs = (
        ensure_parallelism(df)
        .select(
            F.col("doc_id").alias("id"),
            F.split(normalized_text(F.col("text")), " ").alias("toks"),
        )
        .select("id", "toks", F.size("toks").alias("n_tokens"))
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.col("n_tokens") - 1) / seg_tokens).cast(
                            "int"
                        ),
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i * seg_tokens + 1, seg_tokens),
                        " ",
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
    )
    first = Window.partitionBy("seg").orderBy("id", "seg_idx")
    keep = F.row_number().over(first) == 1
    return (
        segs.withColumn("kept_seg", F.when(keep, F.struct("seg_idx", "seg")))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segments"),
            F.count("kept_seg").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("kept_seg")),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .select(
            F.col("id").alias("doc_id"), "n_segments", "n_kept", "dedup_text"
        )
    )
