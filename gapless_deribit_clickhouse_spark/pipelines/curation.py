"""Corpus curation: the composed end-to-end pretraining filter —
exact-dedup winner ∧ target language ∧ quality floor ∧ token-length
band. This is the pipeline a user actually runs over raw crawl data;
the individual operators (text_stats, text_dedup) are its stages.

Scale design: every signal except dedup is a pure column expression
(whole-stage codegen, no joins between feature frames — the
expression builders from text_stats are inlined into ONE projection).
Exact-dedup membership is a min-over-window keyed by the content
hash: a single shuffle of (hash, id) width, after which the filter
applies before any downstream stage sees the data. Nothing here
prevents predicate pushdown on the source columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.partitioning import (
    ensure_parallelism,
    spread_expansion,
)
from gapless_deribit_clickhouse_spark.pipelines.text_dedup import normalized_text, shingles
from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE
from gapless_deribit_clickhouse_spark.pipelines.text_stats import (
    lang_exprs,
    quality_exprs,
)


def curate_corpus(
    df: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
) -> DataFrame:
    """Documents that survive the full curation gauntlet, with their
    audit columns (predicted language, token count, quality score).
    Winner of each exact-duplicate group = min id."""
    raw = F.col("text")
    q = quality_exprs(raw)
    _, pred = lang_exprs(raw)
    w = Window.partitionBy(F.md5(normalized_text(raw)))
    base = ensure_parallelism(df).select(
        F.col("doc_id"),
        pred.alias("lang_pred"),
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        (F.min("doc_id").over(w) == F.col("doc_id")).alias("is_canonical"),
    )
    return base.filter(
        F.col("is_canonical")
        & (F.col("lang_pred") == lang)
        & (F.col("quality_score") >= min_quality)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    ).select("doc_id", "lang_pred", "n_tokens", "quality_score")


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Train/test contamination scan: training documents that share
    word ``n``-grams with a held-out benchmark set. Returns one row per
    contaminated doc: ``doc_id``, ``n_grams`` (distinct n-grams in the
    doc), ``n_matched`` (how many appear in the benchmark), and
    ``contamination_frac`` — the standard n-gram-overlap decontamination
    gate run before pretraining (filter or flag docs above a fraction).

    Scale design: the benchmark is tiny next to the corpus, so its
    distinct n-gram set is **broadcast**; corpus n-grams probe it with
    a broadcast hash join — the 100-TB side is never shuffled for the
    match. Per-doc totals (``n_grams``) are computed row-wise *before*
    the explode, so the only aggregation shuffle carries matched grams
    (a trickle). Clean docs (no matched n-gram) are not in the output —
    the result is a blocklist, joined back or anti-joined by the
    caller.
    """
    bench_grams = (
        benchmark.select(
            F.explode(shingles(F.col("text"), n)).alias("gram")
        ).distinct()
    )
    # materialize the gram array once per row (a projection boundary),
    # then derive size + explode from the bound column — shingling is
    # the dominant row cost and must not run twice. explode_OUTER
    # (optimization r13): plain explode lets InferFiltersFromGenerate
    # synthesize `size(__grams) > 0 AND isnotnull(__grams)` and push
    # the whole shingle transform below the parallelizing exchange
    # onto the single-split scan task; outer explode admits no such
    # inference, and the null-gram rows it emits for empty docs are
    # dropped by the inner broadcast join on `gram` — output identical.
    doc_grams = (
        ensure_parallelism(docs)
        .select(F.col("doc_id"), shingles(F.col("text"), n).alias("__grams"))
        .select(
            F.col("doc_id"),
            F.size("__grams").alias("n_grams"),
            F.explode_outer("__grams").alias("gram"),
        )
    )
    matched = doc_grams.join(F.broadcast(bench_grams), "gram")
    return (
        matched.groupBy("doc_id")
        # shingles() output is already distinct per doc, so count(*)
        # counts distinct matched grams
        .agg(
            F.first("n_grams").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).alias("n_matched"),
        )
        .withColumn(
            "contamination_frac", F.col("n_matched").cast("double") / F.col("n_grams")
        )
        .filter(F.col("n_matched") >= 1)
    )


def build_training_set(
    df: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    dedup_threshold: float = 0.8,
    max_tokens: int = 2048,
    overlap: int = 64,
    num_shards: int = 64,
) -> DataFrame:
    """The end-to-end training-set assembly flagship — the LLM-side
    analog of the analytics tier's ``feature_pipeline``: quality
    gauntlet -> near dedup -> context-window chunking -> token-budget
    packing, each stage the already-tested operator, composed in the
    order the standard scale recipe prescribes (cheap map filters
    first, exact dedup before any pair generation, chunk before pack).

    Output: one row per training chunk with its pack assignment —
    ``chunk_uid``, ``doc_id``, ``chunk_idx``, ``chunk_text``,
    ``pack_id``, ``pack_pos``, ``n_tokens`` (per-chunk BPE-ish count
    used for packing), ``oversized``. Deterministic end to end: every
    stage is hash-keyed, so the same corpus yields byte-identical
    packs on any cluster, partitioning, or rerun.

    Token-metric note: the chunker windows by WHITESPACE tokens while
    the packer budgets BPE-ish tokens (words + punctuation), so a
    punctuation-dense chunk can exceed ``max_tokens`` BPE-ish tokens.
    The packer's oversized contract contains this: such a chunk gets
    its own flagged pack and never silently overflows a shared one —
    callers wanting a hard ceiling should chunk with a margin
    (e.g. ``max_tokens * 0.8``) or precompute a shared token column.
    """
    from gapless_deribit_clickhouse_spark.pipelines.packing import (
        chunk_documents,
        pack_sequences,
    )
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        near_dedup_corpus,
    )

    # the curated subset is consumed TWICE inside near_dedup_corpus
    # (the exact-tier scan and the semi-join base) — without the lazy
    # localCheckpoint barrier the whole quality gauntlet (two text
    # scans + score joins) executes once per consumer (VERDICT r6 #3)
    survivors = df.join(
        curate_corpus(df, lang=lang, min_quality=min_quality).select("doc_id"),
        "doc_id",
        "semi",
    ).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    deduped = near_dedup_corpus(survivors, threshold=dedup_threshold)
    # chunks feed BOTH the packer and the final text join; the lazy
    # localCheckpoint cuts the lineage so the curate->dedup->chunk
    # prefix executes once, not once per consumer (the
    # near_dedup_corpus pattern).
    # spread_expansion first (optimization r12): ``survivors`` is
    # checkpointed on the SCAN's partitioning (one split on a
    # single-row-group input) and the anti join is broadcast, so the
    # chunker's interpreted window/slice/concat expansion — the
    # single most expensive stage of the flagship (4.5 s CPU in ONE
    # task at sf0.1) — inherited a one-partition layout; the chunk
    # checkpoint blocks then kept the packer's token-count projection
    # serial too. One narrow exchange of the deduped rows runs the
    # explode at core count and leaves 32 checkpoint blocks for the
    # downstream consumers.
    chunks = chunk_documents(
        spread_expansion(deduped), max_tokens=max_tokens, overlap=overlap,
    ).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    packed = pack_sequences(
        chunks, id_col="chunk_uid", text_col="chunk_text",
        max_tokens=max_tokens, num_shards=num_shards,
    )
    return packed.join(
        chunks.select("chunk_uid", "doc_id", "chunk_idx", "chunk_text"),
        "chunk_uid",
    ).select(
        "chunk_uid", "doc_id", "chunk_idx", "chunk_text",
        "pack_id", "pack_pos", "n_tokens", "oversized",
    )


def quality_gate(df: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """The FineWeb/CCNet-style two-signal quality gate: keep documents
    whose heuristic quality score clears ``min_quality`` AND whose
    corpus-LM perplexity is at-or-below the corpus MEDIAN — the
    classic "fluent half by the model, clean by the heuristics"
    intersection.  The median is a 1-row exact-percentile scalar
    broadcast into the plan (scale-free: thresholds on raw ppl drift
    with vocabulary size, the median does not), the same bounded
    nested-loop pattern as q22/value_histogram.  Cost = one
    quality-score scan + ONE materialized lm_score plan (checkpointed
    — the median scalar and the join re-read it) + two key joins;
    both signal frames reduce to (doc_id, metric) before joining."""
    from gapless_deribit_clickhouse_spark.pipelines.text_stats import (
        bigram_lm_score,
        quality_score,
    )

    # the lazy localCheckpoint is a PUSHDOWN FENCE, not a reuse cache
    # (optimization r13): without it Catalyst substitutes the
    # quality_score alias into the >= min_quality filter below and
    # pushes the whole regex gauntlet through the parallelizing
    # exchange onto the single-split scan task — the score was being
    # computed twice, once SERIALLY below the exchange (the filter)
    # and once above it (the projection). The checkpointed frame is
    # two columns per doc, metadata-scale.
    q = quality_score(df).select(
        "doc_id", "quality_score"
    ).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    lm = bigram_lm_score(df).select(
        "doc_id", "ppl"
    # the median scalar and the join side must read the SAME
    # materialized ppl values: re-executing the lm plan would both
    # double its cost and re-merge avg partials in a different order,
    # and the median-boundary document sits on an exact-equality edge
    ).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    med = lm.agg(F.expr("percentile(ppl, 0.5D)").alias("median_ppl"))
    return (
        q.join(lm, "doc_id")
        .crossJoin(F.broadcast(med))
        .filter(
            (F.col("quality_score") >= F.lit(min_quality))
            & (F.col("ppl") <= F.col("median_ppl"))
        )
        .select("doc_id", "quality_score", "ppl")
    )
