"""Sequence packing: assign documents to fixed-token-budget packs.

The staple pre-training step the reference (a market-data engine) has
no analogue for, but a 100 TB training-data pipeline needs: group
documents into packs whose cumulative token count fits a context
window, minimizing padding waste.

Scale design — two-level, no global coordination:

1. Docs hash deterministically into ``num_shards`` shards (one
   shuffle). Shard count bounds per-task memory: each shard's
   (id, n_tokens) pairs — two longs per doc, never the text — must fit
   one task, so 10^9 docs at 1024 shards is ~16 MB per task.
2. Each shard packs independently with EXACT first-fit-decreasing
   (``applyInPandas``, a declared Arrow crossing): sort by length
   descending, place each doc in the lowest-indexed open pack with
   room. The first-fit search runs on a max-segment-tree over pack
   rooms — O(log packs) per doc, O(n log n) per shard, never the
   naive O(n * packs) linear scan (a shard of mutually-unpackable
   docs would otherwise go quadratic). FFD wastes <= 22% of optimal
   worst-case and ~0.2-5% on natural length mixes; a bounded-window
   approximation was measured to give up ~20 points of fill on a
   uniform mix, so exactness is worth the log factor. Cross-shard
   packing could recover at most a final partial pack per shard,
   which vanishes as shards fill.

Pack ids are globally unique and deterministic
(``shard * 2**40 + local``), so re-running on the same input yields
identical packs regardless of partitioning — the same reproducibility
contract as the md5-bucket samplers (``pipelines/sampling.py``).

Oversized single documents (n_tokens > max_tokens) get a pack of
their own and are flagged, never dropped or truncated here — chunking
policy belongs to the caller.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.pipelines.text_stats import (
    bpe_ish_token_count,
)

PACK_SCHEMA_SUFFIX = "pack_id long, pack_pos int, n_tokens long, oversized boolean"


class _FirstFitTree:
    """Max-segment-tree over open-pack rooms: ``find_and_take(t)``
    returns the LOWEST-indexed pack with room >= t (classic first-fit)
    and deducts ``t`` — O(log m) per call, m = packs so far. Backing
    array doubles on demand; closed/oversized packs simply never enter
    the tree."""

    def __init__(self) -> None:
        self.cap = 1
        self.tree = [-1, -1]  # 1-indexed; leaves at [cap, 2*cap)
        self.n = 0

    def _set(self, idx: int, room: int) -> None:
        i = idx + self.cap
        self.tree[i] = room
        i //= 2
        while i:
            self.tree[i] = max(self.tree[2 * i], self.tree[2 * i + 1])
            i //= 2

    def add(self, room: int) -> int:
        if self.n == self.cap:
            leaves = self.tree[self.cap : self.cap + self.n]
            self.cap *= 2
            self.tree = [-1] * (2 * self.cap)
            self.tree[self.cap : self.cap + self.n] = leaves
            for j in range(self.cap - 1, 0, -1):
                self.tree[j] = max(self.tree[2 * j], self.tree[2 * j + 1])
        idx = self.n
        self.n += 1
        self._set(idx, room)
        return idx

    def find_and_take(self, t: int) -> int | None:
        if self.tree[1] < t:
            return None
        i = 1
        while i < self.cap:
            i *= 2  # prefer the left (lowest-index) subtree
            if self.tree[i] < t:
                i += 1
        idx = i - self.cap
        self._set(idx, self.tree[i] - t)
        return idx


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    max_tokens: int = 2048,
    num_shards: int = 64,
) -> DataFrame:
    """Assign each document a ``pack_id`` / ``pack_pos`` under a
    ``max_tokens`` budget.

    ``token_col`` supplies precomputed token counts; otherwise the
    BPE-ish regex proxy (``text_stats.bpe_ish_token_count``) is
    computed in the same projection. A null text/token count packs as
    0 tokens (corrupt upstream rows must not fail the job). Output
    columns: ``id_col``, ``n_tokens``, ``pack_id``, ``pack_pos`` (order
    within the pack, longest first), ``oversized`` (single doc
    exceeding the budget — its own CLOSED pack, caller decides
    chunking; no other doc ever joins it).

    Shards are assigned by ``sampling.hash_u32`` of the id (the
    repo's one canonical md5-bucket derivation, bit-reproducible in
    the DuckDB oracles: the binding's oracle unrolls the FFD walk,
    which requires reproducing the shard split engine-side).
    Sharding is load balancing only; the same corpus yields
    byte-identical packs across runs and partitionings.
    """
    from gapless_deribit_clickhouse_spark.pipelines.sampling import hash_u32

    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    # hash_u32 is non-negative, so % == pmod
    shard = (hash_u32(F.col(id_col)) % num_shards).cast("long")
    tokens: Column = (
        F.col(token_col).cast("long")
        if token_col
        else bpe_ish_token_count(F.col(text_col)).cast("long")
    )
    tokens = F.coalesce(tokens, F.lit(0))
    id_t = df.schema[id_col].dataType.simpleString()
    slim = df.select(
        F.col(id_col).alias("__id"),
        tokens.alias("n_tokens"),
        shard.alias("__shard"),
    )

    budget = int(max_tokens)

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["__shard"].iloc[0])
        base = shard * (1 << 40)
        # stable sort: length desc, id asc — deterministic under any
        # incoming row order
        pdf = pdf.sort_values(
            ["n_tokens", "__id"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        # exact FFD over a segment tree of open-pack rooms. The tree
        # holds only packs opened by fit-able docs; oversized packs
        # are CLOSED at creation (tracked outside the tree), so no
        # other doc — not even a zero-token one — can ever join them.
        tree = _FirstFitTree()
        tree_pack: list[int] = []  # tree leaf -> global pack index
        next_pack = 0
        counts: dict[int, int] = {}
        pack_of, pos_of = [], []
        for t in pdf["n_tokens"]:
            t = int(t)
            placed = None
            if t <= budget:
                leaf = tree.find_and_take(t)
                if leaf is not None:
                    placed = tree_pack[leaf]
            if placed is None:
                placed = next_pack
                next_pack += 1
                counts[placed] = 0
                if t <= budget:
                    tree.add(budget - t)
                    tree_pack.append(placed)
            pack_of.append(base + placed)
            pos_of.append(counts[placed])
            counts[placed] += 1
        out = pd.DataFrame(
            {
                "__id": pdf["__id"],
                "n_tokens": pdf["n_tokens"].astype("int64"),
                "pack_id": pack_of,
                "pack_pos": pos_of,
                "oversized": pdf["n_tokens"].astype("int64") > budget,
            }
        )
        return out

    packed = slim.groupBy("__shard").applyInPandas(
        pack_shard, schema=f"__id {id_t}, {PACK_SCHEMA_SUFFIX}"
    )
    return packed.withColumnRenamed("__id", id_col)


def pack_stats(packed: DataFrame, max_tokens: int) -> DataFrame:
    """Packing quality rollup: pack count, docs/pack, fill rate (the
    padding-waste complement), oversized count — one aggregation."""
    per_pack = packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.max(F.col("oversized").cast("int")).alias("has_oversized"),
    )
    return per_pack.agg(
        F.count("*").alias("n_packs"),
        F.sum("n_docs").alias("n_docs"),
        F.avg("n_docs").alias("avg_docs_per_pack"),
        (
            F.sum(F.least(F.col("pack_tokens"), F.lit(max_tokens)))
            / (F.count("*") * F.lit(max_tokens))
        ).alias("fill_rate"),
        F.sum("has_oversized").alias("oversized_packs"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-window preparation step between curation and packing:
    ``max_tokens``-token windows advancing by ``max_tokens - overlap``
    (the classic sliding chunker; the overlap preserves boundary
    context for training). Output one row per chunk: ``doc_id``,
    ``chunk_idx``, ``chunk_uid`` (globally unique
    ``"{len(id)}:{id}:{idx}"`` — the length prefix makes the encoding
    injective even when a string ``doc_id`` itself contains ``":"``,
    so distinct (doc, chunk) pairs can never collide; the key
    downstream stages need, since ``doc_id`` repeats per chunk),
    ``chunk_text``, ``doc_n_tokens`` (WHOLE-DOC whitespace-token
    count — deliberately NOT named ``n_tokens``, which downstream
    packing uses for its per-chunk BPE-ish count), ``n_chunks``.

    Pure column algebra — tokenize once, build the chunk list with
    ``transform`` + ``slice`` over the token array, explode. Zero
    shuffles, zero UDFs: chunking 100 TB is a map over the scan whose
    output feeds packing as
    ``pack_sequences(chunks, id_col="chunk_uid",
    text_col="chunk_text")`` (chunk token counts are recomputed
    per-chunk there; ``doc_n_tokens`` here is the WHOLE-DOC count and
    must not be passed as ``token_col``). A doc at or under the budget
    yields exactly itself as chunk 0 (normalized whitespace); null
    text yields one empty chunk, not a dropped row.
    """
    stride = max_tokens - overlap
    if max_tokens <= 0 or overlap < 0 or stride <= 0:
        raise ValueError("need max_tokens > overlap >= 0")
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        normalized_text,
    )

    toks = F.coalesce(
        F.filter(
            F.split(normalized_text(F.col("text")), " "),
            lambda t: F.length(t) > 0,
        ),
        F.array().cast("array<string>"),
    )
    nt = F.size(toks)
    nc = F.when(nt <= max_tokens, F.lit(1)).otherwise(
        (F.ceil((nt - F.lit(max_tokens)) / F.lit(stride)) + 1).cast("int")
    )
    # built over the PROJECTED attributes (__toks / n_chunks), so the
    # tokenization expression is evaluated once in the inner select
    chunks = F.transform(
        F.sequence(F.lit(0), F.col("n_chunks") - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("__toks"), i * stride + 1, max_tokens)
        ),
    )
    id_str = F.col("doc_id").cast("string")
    return (
        df.select(
            F.col("doc_id"),
            toks.alias("__toks"),
            nt.cast("bigint").alias("doc_n_tokens"),
            nc.alias("n_chunks"),
        )
        .select(
            "doc_id",
            "doc_n_tokens",
            "n_chunks",
            F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            # unique per chunk — the id to pack on:
            # pack_sequences(chunks, id_col="chunk_uid",
            #                text_col="chunk_text").
            # length-prefixed so a ':' inside a string id cannot make
            # two distinct (doc, chunk) pairs encode identically
            F.concat_ws(
                ":", F.length(id_str).cast("string"), id_str, "chunk_idx"
            ).alias("chunk_uid"),
            "chunk_text",
            "doc_n_tokens",
            "n_chunks",
        )
    )
