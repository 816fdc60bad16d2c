"""Embedding similarity: brute-force cosine top-k and an IVF-style
bucketed ANN, plus embedding near-duplicate detection.

Scale design: the query side is SMALL (a handful to thousands of
probes) — broadcast it; the corpus side never shuffles for brute
force. The ANN tier uses seeded random-signed-projection LSH
(Charikar SRP): ``n_bits`` sign bits split into ``n_bits/band_bits``
bands; candidates share >= 1 (band, hash) key. Data-independent and
seeded, so every engine regenerates identical buckets — no trained
centroids to ship. Per-band buckets number 2**band_bits, keeping the
bucket self-join bounded as the corpus grows; query-directed
multi-probe (flip lowest-|margin| bits) buys recall on the tiny query
side without touching the corpus index.

Dot products use ``F.zip_with`` + ``aggregate`` (JVM-side, no Python)
— a vectorized Pandas-UDF path is provided for wide batches where
Arrow + numpy wins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact brute-force top-k neighbors per query.

    Cross-join (broadcast queries) -> cosine -> per-query top-k via
    row_number window partitioned by query (k tiny -> TakeOrdered-like
    cost). Output: query_id, vec_id (by cosine
    desc, deterministic id tiebreak), rank, cosine_sim.
    """
    # norms below the join: computed once per vector, not once per
    # (query, vector) pair — the join sides are projection barriers,
    # so CollapseProject cannot inline the norm into the pair loop
    qv = F.col("query_vec").cast("array<double>")
    q = F.broadcast(
        queries.select(
            "query_id", qv.alias("__qv"), l2_norm(qv).alias("__qn")
        )
    )
    cv = F.col("embedding").cast("array<double>")
    scored = (
        corpus.select("vec_id", cv.alias("__v"), l2_norm(cv).alias("__n"))
        .crossJoin(q)
        .select(
            F.col("query_id"),
            F.col("vec_id"),
            F.try_divide(
                dot(F.col("__v"), F.col("__qv")), F.col("__n") * F.col("__qn")
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine_sim")
    )


DEFAULT_N_BITS = 24
# top-k search wants many small bands (OR-amplified recall for
# moderate-similarity neighbors); near-dup detection wants fewer wide
# bands (selectivity — a 0.95-cosine pair still matches a 6-bit band
# with p~0.53 per band, ~95% over 4 bands, while random pairs collide
# at only 2^-6 per band)
DEFAULT_BAND_BITS = 4
NEAR_DUP_BAND_BITS = 6
DEFAULT_LSH_SEED = 42


def lsh_params(
    corpus_size: int,
    threshold: float = 0.95,
    target_recall: float = 0.9,
) -> tuple[int, int]:
    """Derive ``(n_bits, band_bits)`` from an estimated corpus size —
    the growth rule VERDICT r3 #3 asked to turn from doc into code.

    Sign-LSH bit-agreement probability for a pair at cosine ``s`` is
    ``p = 1 − acos(s)/π`` (Charikar, STOC'02). A ``b``-bit band matches
    with ``p**b``; ``B`` bands give recall ``1 − (1 − p**b)**B``.

    - ``band_bits``: ``ceil(log2(n))`` clipped to [4, 16] — per band,
      expected random collisions per bucket stay ~O(1) as the corpus
      grows, so no bucket's self-join population scales with n.
    - ``bands``: smallest ``B`` with recall >= ``target_recall`` at
      ``threshold``. If ``B*b`` would exceed 512 bits (signature cost
      ceiling), ``b`` steps down — wider buckets, fewer bands.

    Returns ``(n_bits, band_bits)`` with ``n_bits = B * band_bits``.
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    b = max(4, min(16, math.ceil(math.log2(max(corpus_size, 2)))))
    while True:
        pb = p**b
        if pb >= 1.0:
            n_bands = 1
        else:
            n_bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb)))
        if n_bands * b <= 512 or b <= 4:
            return (n_bands * b, b)
        b -= 1


def random_projections(
    dim: int, n_bits: int = DEFAULT_N_BITS, seed: int = DEFAULT_LSH_SEED
) -> list[list[float]]:
    """Seeded random Gaussian hyperplanes for sign-LSH (SRP: Charikar,
    STOC'02). Data-independent and reproducible: any executor, any
    round, any engine regenerates the identical matrix from (dim,
    n_bits, seed) — no trained centroids to ship."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def _proj_dot(vec: Column, weights: list[float]) -> Column:
    """JVM-side dot of a vector column against one literal hyperplane
    (left fold, same evaluation order as the DuckDB oracle's
    list_sum(list_transform(...)))."""
    w = F.array(*[F.lit(float(x)) for x in weights])
    return F.aggregate(
        F.zip_with(vec, w, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def project_embeddings(
    df: DataFrame,
    out_dim: int = 16,
    normalize: bool = False,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``embedding`` to
    ``out_dim`` components (column ``projected``) against a Gaussian
    matrix seeded with ``DEFAULT_LSH_SEED`` — the
    standard pre-ANN compaction step (project, then index/search in
    the low dimension; JL guarantees pairwise distances distort by
    ~1/sqrt(out_dim)).

    Data-independent and reproducible like the SRP hyperplanes it
    reuses (``random_projections``): any engine regenerates the
    identical matrix from (dim, out_dim), so the DuckDB oracle
    re-derives the same literal matrix — no trained state. Pure
    Column algebra (one ``aggregate`` fold per output component over
    the literal row): zero shuffles, zero Python, evaluates inside
    the scan stage at any scale. Null vectors and rows whose width
    disagrees with the corpus dimension project to NULL (zip_with
    NULL-pads the shorter side, so a short vector would otherwise
    yield an array of NULL components — the width guard collapses
    that to one NULL column, which downstream explodes/filters drop
    exactly like the oracle's width predicate). ``normalize`` adds an
    L2 re-normalization of the projected vector (zero vectors stay
    NULL rather than dividing by zero) — at O(out_dim^2 * dim) per
    row, see the inline note; prefer normalize=False and a downstream
    normalization for wide corpora."""
    dim = _vec_dim(df, "embedding")
    if dim is None:
        return df.withColumn(
            "projected", F.lit(None).cast(T.ArrayType(T.DoubleType()))
        )
    proj = random_projections(dim, out_dim)
    vec = F.col("embedding")
    # ONE parsed SQL expression instead of out_dim Column-API folds
    # (optimization r12): _proj_dot builds ~(dim+5) py4j Column calls
    # per hyperplane — out_dim x dim round trips dominated this
    # operator's DataFrame construction (~0.6 s at 8x64). The SQL text
    # is the same left fold over the same zip, with D-suffixed
    # literals so every weight stays a DOUBLE (bit-identical values).
    def dot_sql(row: list[float]) -> str:
        w = ", ".join(f"{float(x)!r}D" for x in row)
        return (
            f"aggregate(zip_with(`embedding`, array({w}), (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x)"
        )

    out = F.expr(f"array({', '.join(dot_sql(row) for row in proj)})")
    if normalize:
        # the lambda references the outer norm, which HOF evaluation
        # recomputes per element; the norm itself embeds the FULL
        # projection (out_dim folds of width dim), so this path costs
        # O(out_dim^2 * dim) multiply-adds per row — there is no clean
        # hoist (CollapseProject undoes a sibling-column intermediate).
        # Acceptable for eval-scale use; for wide corpora keep
        # normalize=False and renormalize downstream (one extra narrow
        # pass) or at an Arrow edge.
        nrm = l2_norm(out)
        out = F.when(nrm > 0, F.transform(out, lambda x: x / nrm))
    out = F.when(vec.isNotNull() & (F.size(vec) == dim), out)
    return df.withColumn("projected", out)


def band_hashes(
    vec: Column, proj: list[list[float]], band_bits: int = DEFAULT_BAND_BITS
) -> Column:
    """``array<int>`` of per-band bucket hashes: bit i of band j is the
    sign of hyperplane ``j*band_bits+i``; a band packs ``band_bits``
    signs into one int. Two vectors are LSH candidates iff they share
    at least one (band, hash) key — the standard banded OR-construction
    over sign bits, so bucket count per band is 2**band_bits and the
    per-bucket self-join stays bounded at scale (vs. a single coarse
    cell whose population grows linearly with the corpus)."""
    bits = [
        F.when(_proj_dot(vec, row) > 0, F.lit(1)).otherwise(F.lit(0)) for row in proj
    ]
    n_bands = len(proj) // band_bits
    hashes = []
    for j in range(n_bands):
        h = F.lit(0)
        for i in range(band_bits):
            h = h + bits[j * band_bits + i] * F.lit(2**i)
        hashes.append(h)
    return F.array(*hashes)


def lsh_band_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    proj: list[list[float]],
    band_bits: int = DEFAULT_BAND_BITS,
    use_arrow: bool = True,
) -> DataFrame:
    """(id, band, h) inverted-file rows — one small-int row per band
    per vector. Vectors do NOT ride through this table: the band
    shuffle moves 3 ints per row, and candidate pairs fetch vectors
    afterwards via an id-keyed join.

    ``use_arrow=True`` (default) computes signatures in one
    ``mapInPandas`` stage: the whole Arrow batch hits BLAS as a single
    (batch x dim) @ (dim x n_bits) matmul — the declared-crossing
    pattern SURVEY §2.10 reserves for wide-vector math, ~2 orders of
    magnitude over per-element lambda evaluation at 100 TB.
    ``use_arrow=False`` keeps the pure-Column path whose left-fold
    summation order matches the DuckDB oracle BIT-EXACTLY; the paths
    can only disagree if some |projection| < ~1e-13 (measure-zero for
    Gaussian hyperplanes — tests pin agreement on the testdata).

    Null vectors are excluded up front in both paths: they can never
    verify above a cosine threshold, and np.array over a batch
    containing None would otherwise fail the whole task."""
    df = df.filter(F.col(vec_col).isNotNull())
    if use_arrow:
        import numpy as np

        n_bands = len(proj) // band_bits
        w_matrix = np.asarray(proj, dtype="float64")
        pow2 = (2 ** np.arange(band_bits)).astype("int64")
        bc = df.sparkSession.sparkContext.broadcast((w_matrix, pow2, n_bands, band_bits))
        id_type = df.schema[id_col].dataType.simpleString()

        def sig(batches):
            w_b, pow2_b, nb, bb = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf[vec_col].tolist(), dtype="float64")
                bits = (mat @ w_b.T > 0).astype("int64")
                hashes = (bits.reshape(len(pdf), nb, bb) * pow2_b).sum(axis=2)
                yield pd.DataFrame(
                    {
                        "id": np.repeat(pdf[id_col].to_numpy(), nb),
                        "band": np.tile(np.arange(nb, dtype="int32"), len(pdf)),
                        "h": hashes.reshape(-1).astype("int32"),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(
            sig, schema=f"id {id_type}, band int, h int"
        )
    cv = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(band_hashes(cv, proj, band_bits)).alias("band", "h"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    multiprobe: int = 0,
    use_arrow: bool = True,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates are corpus vectors
    sharing >= 1 (band, hash) key with the query; exact cosine rerank
    picks top-k among candidates. The index is ``DEFAULT_N_BITS`` sign
    bits in ``DEFAULT_BAND_BITS``-bit bands, seeded with
    ``DEFAULT_LSH_SEED``.

    ``multiprobe`` adds query-directed probes (Lv et al., VLDB'07):
    per band, also probe the hashes obtained by flipping each of the
    ``multiprobe`` lowest-|margin| sign bits — the bits most likely to
    differ for a true neighbor. Raises recall without touching the
    corpus index; probes multiply only the (tiny, broadcast) query
    side. Recall is pinned vs ``cosine_topk`` in
    tests/test_pipelines.py.
    """
    dim = _vec_dim(corpus, "embedding")
    if dim is None:  # empty corpus -> empty result, not a failure
        id_t = corpus.schema["vec_id"].dataType.simpleString()
        qid_t = queries.schema["query_id"].dataType.simpleString()
        return corpus.sparkSession.createDataFrame(
            [], f"query_id {qid_t}, vec_id {id_t}, rank int, cosine_sim double"
        )
    band_bits = DEFAULT_BAND_BITS
    proj = random_projections(dim, DEFAULT_N_BITS)
    cv = F.col("embedding").cast("array<double>")
    corpus_bands = lsh_band_table(corpus, "vec_id", "embedding", proj, band_bits, use_arrow)

    queries = queries.filter(F.col("query_vec").isNotNull())
    qv = F.col("query_vec").cast("array<double>")
    probe_fn = _query_probe_table_arrow if use_arrow else _query_probe_table
    q_probes = probe_fn(
        queries, "query_id", "query_vec", proj, band_bits, multiprobe
    )

    cand = (
        corpus_bands.join(F.broadcast(q_probes), on=["band", "h"])
        .select(F.col("query_id"), F.col("id").alias("vec_id"))
        .distinct()
    )
    if use_arrow:
        qid_t = queries.schema["query_id"].dataType.simpleString()
        id_t = corpus.schema["vec_id"].dataType.simpleString()
        with_vecs = cand.join(
            corpus.select("vec_id", cv.alias("__v")), on="vec_id"
        ).join(
            F.broadcast(queries.select("query_id", qv.alias("__qv"))),
            on="query_id",
        )
        scored = _cosine_score_arrow(
            with_vecs,
            "__v",
            "__qv",
            ["query_id", "vec_id"],
            f"query_id {qid_t}, vec_id {id_t}, cosine_sim double",
        )
    else:
        c = corpus.select("vec_id", cv.alias("__v"), l2_norm(cv).alias("__n"))
        q = queries.select("query_id", qv.alias("__qv"), l2_norm(qv).alias("__qn"))
        scored = (
            cand.join(c, on="vec_id")
            .join(F.broadcast(q), on="query_id")
            .select(
                F.col("query_id"),
                F.col("vec_id"),
                F.try_divide(
                    dot(F.col("__v"), F.col("__qv")), F.col("__n") * F.col("__qn")
                ).alias("cosine_sim"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine_sim")
    )


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first NON-NULL row (driver-side,
    metadata-scale — the scan stops at the first match); ``None`` for
    an empty/all-null column, where callers short-circuit to an empty
    result instead of failing a whole pipeline."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if row is None or row["d"] is None:
        return None
    return int(row["d"])


def _cosine_score_arrow(
    df: DataFrame, a_col: str, b_col: str, out_cols: list[str], out_schema: str
) -> DataFrame:
    """Arrow-batched exact-cosine stage: per batch, one einsum + two
    norms over the stacked vector matrices (BLAS), replacing per-pair
    lambda folds. Values agree with the Column/DuckDB fold to ~1e-15
    relative — far inside every comparison tolerance.

    Zero-norm vectors: the Column path divides by zero and Spark yields
    NULL, which every downstream ``>=``/ordering drops; naive numpy
    yields NaN, which Spark ORDERS ABOVE every number — an all-zero
    embedding would rank first in top-k and pass near-dup thresholds.
    We mask ``denom == 0`` to null (nullable Float64) so both paths
    agree (ADVICE r3)."""
    import numpy as np

    keep = list(out_cols)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat_a = np.array(pdf[a_col].tolist(), dtype="float64")
            mat_b = np.array(pdf[b_col].tolist(), dtype="float64")
            denom = np.linalg.norm(mat_a, axis=1) * np.linalg.norm(mat_b, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.einsum("ij,ij->i", mat_a, mat_b) / denom
            masked = pd.array(cos, dtype="Float64")
            masked[denom == 0.0] = pd.NA
            out = {c: pdf[c] for c in keep}
            out["cosine_sim"] = masked
            yield pd.DataFrame(out)

    return df.mapInPandas(score, schema=out_schema)


def _query_probe_table_arrow(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    proj: list[list[float]],
    band_bits: int,
    multiprobe: int,
) -> DataFrame:
    """Arrow twin of ``_query_probe_table``: margins via one matmul per
    batch, probe expansion in numpy. Pinned equal to the Column path by
    test; preferred when building many probes (each Column probe adds
    an expression tree, a fixed driver-side analysis cost)."""
    import numpy as np

    n_bands = len(proj) // band_bits
    w_matrix = np.asarray(proj, dtype="float64")
    m_probes = min(multiprobe, band_bits)
    bc = queries.sparkSession.sparkContext.broadcast(
        (w_matrix, n_bands, band_bits, m_probes)
    )
    qid_t = queries.schema[query_id_col].dataType.simpleString()

    def probes(batches):
        w_b, nb, bb, mp = bc.value
        pow2 = 2 ** np.arange(bb)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[query_vec_col].tolist(), dtype="float64")
            margins = mat @ w_b.T  # (n, n_bits)
            bits = (margins > 0).astype("int64").reshape(len(pdf), nb, bb)
            base = (bits * pow2).sum(axis=2)  # (n, nb)
            out_ids, out_bands, out_h = [], [], []
            ids = pdf[query_id_col].to_numpy()
            for r in range(len(pdf)):
                for j in range(nb):
                    out_ids.append(ids[r])
                    out_bands.append(j)
                    out_h.append(base[r, j])
                    if mp > 0:
                        seg = np.abs(margins[r, j * bb : (j + 1) * bb])
                        for i in np.argsort(seg, kind="stable")[:mp]:
                            out_ids.append(ids[r])
                            out_bands.append(j)
                            out_h.append(int(base[r, j]) ^ (1 << int(i)))
            yield pd.DataFrame(
                {"qid": out_ids, "band": out_bands, "h": out_h}
            )

    return queries.select(query_id_col, query_vec_col).mapInPandas(
        probes, schema=f"qid {qid_t}, band int, h int"
    ).withColumnRenamed("qid", query_id_col)


def _query_probe_table(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    proj: list[list[float]],
    band_bits: int,
    multiprobe: int,
) -> DataFrame:
    """(query_id, band, h) probe rows: each band's own hash plus, for
    m in 1..multiprobe, the hash with the m-th smallest-|margin| bit
    flipped (single-bit flips, query-directed). All JVM-side: margins
    sort via sort_array over (|dot|, bit) structs."""
    qv = F.col(query_vec_col).cast("array<double>")
    dots = [_proj_dot(qv, row) for row in proj]
    n_bands = len(proj) // band_bits
    probe_structs = []
    for j in range(n_bands):
        base = F.lit(0)
        for i in range(band_bits):
            base = base + F.when(dots[j * band_bits + i] > 0, F.lit(2**i)).otherwise(
                F.lit(0)
            )
        probe_structs.append(F.struct(F.lit(j).alias("band"), base.alias("h")))
        if multiprobe > 0:
            margins = F.sort_array(
                F.array(
                    *[
                        F.struct(
                            F.abs(dots[j * band_bits + i]).alias("m"),
                            F.lit(i).alias("i"),
                        )
                        for i in range(band_bits)
                    ]
                )
            )
            for m in range(min(multiprobe, band_bits)):
                # 2**bit_index as a Column (shiftleft needs a literal);
                # exact for band_bits <= 30
                flipped = base.bitwiseXOR(
                    F.pow(F.lit(2.0), margins[m]["i"]).cast("int")
                )
                probe_structs.append(
                    F.struct(F.lit(j).alias("band"), flipped.alias("h"))
                )
    return queries.select(
        query_id_col, F.explode(F.array(*probe_structs)).alias("p")
    ).select(query_id_col, F.col("p.band").alias("band"), F.col("p.h").alias("h"))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_bits: int | None = DEFAULT_N_BITS,
    band_bits: int | None = NEAR_DUP_BAND_BITS,
    use_arrow: bool = True,
    corpus_size: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold). Candidates =
    pairs sharing >= 1 of the ``n_bits/band_bits`` sign-LSH bands;
    exact cosine verification kills false positives. The band
    self-join is an equi-join on (band, h) over small-int rows —
    per-bucket population is corpus/2**band_bits per band, so the
    quadratic blowup of a single coarse cell never materializes.
    ``use_arrow`` selects BLAS-batched signature + verification stages
    (default) vs the pure-Column path whose fold order is bit-exact
    with the DuckDB oracle.

    Sizing: random pairs collide in some band at ~(n_bits/band_bits) *
    2**-band_bits — the candidate floor that exact verification must
    absorb. Grow ``band_bits`` toward ~log2(corpus) as the corpus
    grows (keeping enough bands for recall at your threshold: a
    0.95-cosine pair matches one band with p ~ 0.9**band_bits); the
    defaults target the 10^3-10^4 test corpus. ``n_bits=None``
    auto-sizes via :func:`lsh_params` from ``corpus_size`` (counted
    once if not supplied) at this call's ``threshold`` — the scale
    path: band_bits grows ~log2(corpus), so per-bucket population
    stays O(1) and the verify stage absorbs a bounded candidate
    floor."""
    dim = _vec_dim(df, "embedding")
    if dim is None:  # empty corpus -> empty result, not a failure
        id_t = df.schema["vec_id"].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_t}, id_b {id_t}, cosine_sim double"
        )
    if n_bits is None or band_bits is None:
        n = corpus_size if corpus_size is not None else df.count()
        auto_bits, auto_band = lsh_params(n, threshold=threshold)
        n_bits = auto_bits if n_bits is None else n_bits
        band_bits = auto_band if band_bits is None else band_bits
    proj = random_projections(dim, n_bits)
    cv = F.col("embedding").cast("array<double>")
    bands = lsh_band_table(df, "vec_id", "embedding", proj, band_bits, use_arrow)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "h"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if use_arrow:
        id_t = df.schema["vec_id"].dataType.simpleString()
        with_vecs = cand.join(
            df.select(F.col("vec_id").alias("id_a"), cv.alias("va")), on="id_a"
        ).join(df.select(F.col("vec_id").alias("id_b"), cv.alias("vb")), on="id_b")
        pairs = _cosine_score_arrow(
            with_vecs,
            "va",
            "vb",
            ["id_a", "id_b"],
            f"id_a {id_t}, id_b {id_t}, cosine_sim double",
        )
    else:
        c = df.select(
            F.col("vec_id").alias("id"),
            cv.alias("v"),
            l2_norm(cv).alias("n"),  # once per vector, not per pair
        )
        pairs = (
            cand.join(
                c.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")),
                on="id_a",
            )
            .join(
                c.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")),
                on="id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.try_divide(
                    dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
                ).alias("cosine_sim"),
            )
        )
    return pairs.filter(F.col("cosine_sim") >= threshold)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale =
    max(|x|) / 127``, ``q_i = round(x_i / scale)`` (always in
    [-127, 127]) — the standard compression step before shipping
    embeddings through a shuffle or persisting an ANN index: int8
    cuts shuffle/storage bytes 4x vs float32 (8x vs float64) at a
    bounded reconstruction error of ``scale / 2`` per coordinate.

    Pure column algebra (transform/aggregate folds, JVM-side, exact
    and engine-portable: max is order-invariant, and round-half-up on
    identical doubles agrees across engines). A zero/empty vector has
    no scale — ``scale`` and ``qvec`` are NULL, the same
    absent-not-zero convention as the cosine paths' try_divide. Output:
    ``id_col``, ``scale``, ``qvec`` (array<tinyint>), ``n_dims``,
    ``max_abs_err`` (max |x - q*scale|, <= scale/2 by construction).

    The intermediates are PROJECTED attributes (__v/__amax/scale),
    not repeated expressions — higher-order-function lambdas
    re-evaluate outer EXPRESSIONS per element, but re-reading a
    projected column is free.
    """
    v = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col),
        v.alias("__v"),
        F.aggregate(
            F.transform(v, lambda x: F.abs(x)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("__amax"),
    ).select(
        id_col,
        "__v",
        F.when(F.col("__amax") > 0, F.col("__amax") / F.lit(127.0)).alias("scale"),
    )
    qvec = F.transform(
        F.col("__v"), lambda x: F.round(x / F.col("scale")).cast("tinyint")
    )
    return base.select(
        id_col,
        "scale",
        F.when(F.col("scale").isNotNull(), qvec).alias("qvec"),
        F.size("__v").alias("n_dims"),
        F.when(
            F.col("scale").isNotNull(),
            F.aggregate(
                F.zip_with(
                    F.col("__v"),
                    qvec,
                    lambda x, q: F.abs(x - q.cast("double") * F.col("scale")),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ),
        ).alias("max_abs_err"),
    )


def quantized_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force top-k over the INT8-QUANTIZED vectors — the
    memory-bandwidth-bound scale path: per-vector scales cancel inside
    cosine (cos(s_a*qa, s_b*qb) = cos(qa, qb)), so scoring is pure
    integer dot products and integer norms with ONE final division —
    exact and engine-portable, no float accumulation order anywhere.

    Vectors that cannot be quantized (NULL/zero/empty — NULL scale
    from :func:`quantize_embeddings`) are excluded from both sides; a
    quantizable vector always has a +/-127 coordinate, so norms are
    never zero and every pair scores. Output: query_id, vec_id, rank,
    qcos_sim. Recall vs the float ranking is pinned in pytest; at 100
    TB the int8 corpus moves 4x fewer bytes through the scan and
    broadcast than float32 (8x vs float64).
    """
    qs = quantize_embeddings(
        queries, id_col="query_id", vec_col="query_vec"
    ).filter(F.col("scale").isNotNull())
    cs = quantize_embeddings(corpus).filter(F.col("scale").isNotNull())

    def _norm2(q: Column) -> Column:
        return F.aggregate(
            F.transform(q, lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    q = F.broadcast(
        qs.select(
            "query_id",
            F.col("qvec").alias("__qq"),
            _norm2(F.col("qvec")).alias("__qn2"),
        )
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("__cq"), F.col("__qq"), lambda a, b: a.cast("long") * b.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        cs.select(
            "vec_id", F.col("qvec").alias("__cq"), _norm2(F.col("qvec")).alias("__cn2")
        )
        .crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            (
                idot.cast("double")
                / (
                    F.sqrt(F.col("__cn2").cast("double"))
                    * F.sqrt(F.col("__qn2").cast("double"))
                )
            ).alias("qcos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qcos_sim"), F.col("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
