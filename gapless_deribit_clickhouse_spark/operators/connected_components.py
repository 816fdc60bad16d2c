"""Connected components over a pair graph — the final stage of corpus
deduplication (near-dup PAIRS from MinHash-LSH / SimHash must be
closed into CLUSTERS before one canonical document per cluster can be
kept; ``text_dedup.near_dedup_corpus`` keeps each component's minimum).

Not in the reference (its dedup is single-key ReplacingMergeTree —
`schema/clickhouse/options_trades.yaml:26`); this belongs to the
large-scale-pipeline tier.

Scale design, two tiers like every production CC implementation:

* **Distributed tier** — alternating large-star / small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14). Each round is two node-keyed shuffles; the edge set
  contracts toward star graphs rooted at each component's minimum
  id in O(log n) rounds regardless of component DIAMETER — naive
  label propagation would need diameter-many rounds (a 1M-doc
  duplicate chain = 1M shuffle rounds). Per-round lazy
  ``localCheckpoint`` truncates the logical plan (iterative
  self-referential plans otherwise double in size per round and
  analysis time explodes), and the convergence signature
  (count + order-free xor of edge hashes) doubles as the
  materializing action — exactly ONE job per round.
* **Local tier** — once (or if) the edge set is below
  ``local_threshold`` rows (default 2M pairs ≈ 32 MB of longs, far
  under driver heap), collect and run union-find; the result is
  re-parallelized. The near-dup pair graph is minuscule relative to
  the corpus (pairs ≈ dup-rate × corpus), so at 100 TB the star
  rounds run only until the contracted graph crosses the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE


def _round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round. Input/output edges are
    directed larger -> smaller (u > v), distinct, loop-free.

    Large-star emits (w, m(u)) for neighbors w > u where
    m(u) = min(N(u) ∪ {u}): always w > m, already loop-free, and
    duplicate rows are absorbed by the small-star groupBy — no
    intermediate distinct shuffle needed. Small-star then emits
    (w, m(u)) for each smaller neighbor w of u plus the center u
    itself."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("u", "mn").alias("m"))
    large = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    m2 = large.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        large.join(m2, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m2.select(F.col("u"), F.col("m").alias("v")))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _local_union_find(rows: list) -> list:
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(x, find(x)) for x in parent] + [
        (x, x) for x in {find(x) for x in parent}
    ]


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    local_threshold: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in the (``id_a``,
    ``id_b``) edges of ``pairs``; component = minimum node id in the
    component.

    ``stats`` (optional out-param) is filled with the run's shape —
    ``input_edges``, ``rounds`` (distributed star rounds executed),
    ``local_tier`` (whether the bounded union-find finish ran) and
    ``local_edges`` (edge count it collected) — so a scaling probe can
    attribute wall-clock growth to pair-count growth vs round-count
    growth (VERDICT r11 #5) without re-deriving the loop."""
    spark = pairs.sparkSession
    id_type = pairs.schema["id_a"].dataType
    out_schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def materialize(e: DataFrame) -> tuple[DataFrame, tuple]:
        e = e.localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)  # truncate lineage; the
        sig = e.agg(  # signature action below materializes it
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        return e, (sig["n"], sig["h"])

    edges, prev_sig = materialize(edges)
    if stats is not None:
        stats.update(
            {"input_edges": prev_sig[0], "rounds": 0, "local_tier": False}
        )
    converged = False
    for _ in range(max_iter):
        if prev_sig[0] == 0:
            # empty edge set (common at steady state: a clean batch has
            # no near-dup pairs) — the union-find result is empty, so
            # skip the collect job entirely (optimization r13)
            if stats is not None:
                stats.update({"local_tier": True, "local_edges": 0})
            return spark.createDataFrame([], out_schema)
        if prev_sig[0] <= local_threshold:
            if stats is not None:
                stats.update({"local_tier": True, "local_edges": prev_sig[0]})
            rows = [(r["u"], r["v"]) for r in edges.collect()]
            return spark.createDataFrame(_local_union_find(rows), out_schema)
        edges, sig = materialize(_round(edges))
        if stats is not None:
            stats["rounds"] += 1
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # the star extraction below is only valid at the fixpoint;
        # labeling from an intermediate state would silently return
        # non-minimal component representatives
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (rounds needed ~ O(log n))"
        )
    # converged distributed: stars rooted at component minima. u > v
    # everywhere, so membership of u is its min partner; roots appear
    # only on the v side and map to themselves.
    comp = edges.groupBy("u").agg(F.min("v").alias("component"))
    roots = edges.select("v").distinct().join(
        comp.select(F.col("u").alias("v")), "v", "left_anti"
    )
    return comp.select(F.col("u").alias("node"), "component").union(
        roots.select(F.col("v").alias("node"), F.col("v").alias("component"))
    )
