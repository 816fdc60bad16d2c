"""Text analysis: language-ID heuristic, quality scoring, token
counting, document fingerprinting.

All pure column expressions (whole-stage codegen; no UDFs) with exact
ANSI-SQL equivalents, so every operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.partitioning import ensure_parallelism
from gapless_deribit_clickhouse_spark.pipelines.text_dedup import normalized_text
from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE

# Tiny stop-word markers per language for the n-gram/function-word
# heuristic language ID (the classic stopword-profile approach).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "nicht", "das"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "de"),
}


def token_count(col: Column) -> Column:
    """Whitespace token count of the normalized text."""
    t = normalized_text(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, " ")))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish proxy: count of word pieces + punctuation marks, via a
    regex token class (letters/digits runs or single non-space
    symbols)."""
    # count matches of [a-z0-9]+ plus individual punctuation
    t = normalized_text(col)
    words = F.size(F.filter(F.split(t, "[^a-z0-9]+"), lambda x: F.length(x) > 0))
    punct = F.length(F.regexp_replace(t, "[a-z0-9 ]", ""))
    return words + punct


def quality_exprs(raw: Column) -> dict[str, Column]:
    """The quality feature columns as plain expressions, so a composite
    pipeline can inline them into a single pass instead of joining
    feature frames."""
    t = normalized_text(raw)
    n_chars = F.length(raw)
    n_tokens = token_count(raw)
    mean_tok_len = F.when(n_tokens > 0, F.length(t) / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, F.length(F.regexp_replace(t, "[a-z0-9 ]", "")) / n_chars
    ).otherwise(F.lit(0.0))
    upper_ratio = F.when(
        n_chars > 0, F.length(F.regexp_replace(raw, "[^A-Z]", "")) / n_chars
    ).otherwise(F.lit(0.0))
    # single membership filter over the token array (one pass) instead
    # of one filter per stop word; equal to the per-word count sum
    # because the marker list is distinct
    stop_hits = F.size(
        F.filter(
            F.split(t, " "),
            lambda x: F.array_contains(F.array(*[F.lit(w) for w in LANG_MARKERS["en"]]), x),
        )
    )
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    # composite: long-enough docs with moderate punctuation and some
    # stopwords score higher (shape follows published quality filters)
    score = (
        F.least(n_tokens / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(upper_ratio * 5.0, F.lit(1.0))) * 0.1
    )
    return {
        "char_count": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "mean_token_len": mean_tok_len.cast("double"),
        "punct_ratio": punct_ratio.cast("double"),
        "stopword_ratio": stop_ratio.cast("double"),
        "upper_ratio": upper_ratio.cast("double"),
        "quality_score": score.cast("double"),
    }


def quality_score(df: DataFrame) -> DataFrame:
    """Per-doc quality features + composite score:
    n_chars, n_tokens, mean token length, punctuation ratio, stopword
    ratio, uppercase ratio; score = weighted combination in [0,1]."""
    exprs = quality_exprs(F.col("text"))
    return ensure_parallelism(df).select(
        F.col("doc_id"), *[c.alias(name) for name, c in exprs.items()]
    )


def lang_exprs(raw: Column) -> tuple[dict[str, Column], Column]:
    """(per-language hit counts, argmax prediction) as expressions —
    inlinable into composite single-pass pipelines."""
    t = normalized_text(raw)
    toks = F.split(t, " ")

    def _member(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return lambda x: F.array_contains(arr, x)

    # one membership filter per language (marker lists are distinct,
    # so this equals the per-word count sum the oracle computes)
    hits = {
        lang: F.size(F.filter(toks, _member(words)))
        for lang, words in LANG_MARKERS.items()
    }
    # argmax via greatest + chained when (ties -> first in sorted order)
    best = F.greatest(*[hits[lang] for lang in sorted(hits)])
    pred = F.lit("und")
    for lang in sorted(hits, reverse=True):
        pred = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return hits, pred


def lang_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: count function-word hits per language
    profile, argmax wins ('und' = undetermined when all zero).
    Deterministic tie-break by language code order."""
    hits, pred = lang_exprs(F.col("text"))
    return ensure_parallelism(df).select(
        F.col("doc_id"),
        *[hits[lang].cast("bigint").alias(f"hits_{lang}") for lang in sorted(hits)],
        pred.alias("lang_pred"),
    )


def token_topk(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary head: top-k tokens by total occurrence count,
    with document frequency — the vocab/stopword-list builder.

    Scale shape: explode -> per-token partial counts (map-side
    combine) -> one shuffle keyed by token -> global top-k via
    TakeOrdered (no full sort). ``count_distinct(doc)`` rides the same
    aggregate. Token keys are Zipf-skewed, but the partial aggregate
    collapses each partition's duplicates first, so the hot token
    costs one row per partition in the shuffle, not one per
    occurrence."""
    toks = ensure_parallelism(df).select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token"),
    ).filter(F.length("token") > 0)
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("term_count"),
            F.countDistinct("doc").alias("doc_freq"),
        )
        .orderBy(F.desc("term_count"), F.asc("token"))
        .limit(k)
    )


def tfidf_top_terms(df: DataFrame, k_per_doc: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf
    (tf = raw in-doc count, idf = ln((N+1)/(df+1)) + 1 — the
    smoothed scikit-style variant). The keyword-extraction /
    doc-representation builder.

    Scale shape: explode -> groupBy (doc, token) for tf [shuffle 1,
    map-side combine collapses repeats before the wire] -> document
    frequency as count-over-window keyed by token on the SAME tf
    rows [shuffle 2 — no second aggregation pass or join back] ->
    broadcast the corpus-size scalar -> per-doc top-k via row_number
    window [shuffle 3 keyed by doc]. No full sort; ties break on
    token order for determinism."""
    from pyspark.sql import Window

    toks = ensure_parallelism(df).select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token"),
    ).filter(F.length("token") > 0)
    tf = toks.groupBy("doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    # each (doc, token) row is distinct, so rows-per-token IS the
    # document frequency — a window count on the tf output, not a
    # separate aggregate + join
    dfw = Window.partitionBy("token")
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(dfw))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc").alias("doc_id"),
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            (
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).cast("double").alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_per_doc)
        .select("doc_id", "token", "tf", F.col("rank").cast("bigint").alias("rank"), "tfidf")
    )


def corpus_profile(
    df: DataFrame,
    group_col: str = "lang",
    exact: bool = False,
) -> DataFrame:
    """Per-group corpus profile: document count, token totals, and
    token-length percentiles — the summary a data engineer pulls before
    deciding curation thresholds (length bands, language mix).

    Output: ``<group_col>, n_docs, total_tokens, avg_tokens,
    p50_tokens, p90_tokens, p99_tokens``.

    Scale design: token counts are row-wise expressions, so the whole
    profile is one partial-agg + tiny exchange on the group key. The
    default uses ``approx_percentile`` (t-digest sketch, mergeable,
    bounded memory — the only sane choice at 100 TB); ``exact=True``
    switches to ``percentile`` (collects each group's values — fine at
    validation scale, used by the DuckDB-oracle binding since sketches
    aren't reproducible across engines).
    """
    toks = token_count(F.col("text")).cast("double")
    pct_fn = F.percentile if exact else F.percentile_approx
    pct_cols = [
        pct_fn(toks, F.lit(p)).alias(f"p{int(p * 100)}_tokens") for p in (0.5, 0.9, 0.99)
    ]
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("bigint").alias("total_tokens"),
        F.avg(toks).alias("avg_tokens"),
        *pct_cols,
    )


def repetition_stats(df: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style within-document repetition signals, one row per doc:

    - ``n_tokens``          whitespace token count
    - ``dup_token_frac``    1 − distinct/total tokens
    - ``dup_ngram_frac``    1 − distinct/total word ``n``-grams
    - ``top_token_count``   occurrences of the single most frequent token
    - ``top_token_frac``    that count / n_tokens

    Heavily repetitive documents (boilerplate, keyword stuffing, decode
    loops) score high and get filtered before pretraining.

    Scale design: ZERO shuffle — every metric is computed inside the
    row with array higher-order functions (split → array_distinct /
    array_sort → ``aggregate`` run-length scan over the sorted token
    array for the mode), so the whole operator is one codegen'd
    projection over the scan. A groupBy-explode formulation would
    shuffle every token in the corpus; this shuffles nothing.
    """
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import gram_array

    toks = F.split(normalized_text(F.col("text")), " ")
    n_toks = F.size(toks)
    # total (overlapping) n-grams and their distinct count; gram_array
    # keeps the quadratic split-in-lambda re-evaluation out (see its
    # docstring)
    grams = gram_array(toks, n)
    # mode count via run-length scan over the sorted array: state =
    # (prev token, current run, best run); nulls can't appear (split
    # never yields null elements), so prev='' start is safe
    srt = F.array_sort(toks)
    best = F.aggregate(
        srt,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    frac = lambda d, t: (t - d).cast("double") / t  # noqa: E731
    return ensure_parallelism(df).select(
        F.col("doc_id"),
        n_toks.cast("bigint").alias("n_tokens"),
        frac(F.size(F.array_distinct(toks)), n_toks).alias("dup_token_frac"),
        frac(F.size(F.array_distinct(grams)), F.size(grams)).alias("dup_ngram_frac"),
        best.cast("bigint").alias("top_token_count"),
        (best.cast("double") / n_toks).alias("top_token_frac"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted
    distinct token set (the classic 'fingerprint' clustering key —
    robust to token reordering/duplication)."""
    toks = F.array_sort(F.array_distinct(F.split(normalized_text(F.col("text")), " ")))
    return ensure_parallelism(df).select(
        F.col("doc_id"),
        F.md5(F.concat_ws(" ", toks)).alias("fingerprint"),
        F.size(toks).cast("bigint").alias("n_distinct_tokens"),
    )


def _md5_bucket(key: Column, buckets: int) -> Column:
    """Uniform bucket in [0, buckets): the first 8 md5 hex chars (32
    bits) of the key, as a long, mod ``buckets``. ``_CLF_BUCKET_SQL``
    in bindings/llm_ops.py is the DuckDB mirror."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long") % buckets
    ).cast("int")


def hashed_linear_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
) -> DataFrame:
    """Fasttext-style hashed linear classifier inference, fused into
    the scan as pure column algebra: each token hashes into a bucket
    of the ``weights`` vector (hashing trick), the document logit is
    bias + mean bucket weight, and the score (``clf_score``) is its
    sigmoid.

    The scale story is the point: classifier inference over 100 TB is
    a zero-shuffle, zero-UDF map — the weight vector is a plan
    LITERAL (one array constant in the codegen'd expression, shipped
    once inside the serialized plan, not per row), so quality-filter
    scoring runs at full scan speed and pushes below any downstream
    shuffle. Each token's bucket is its first 8 md5 hex chars mod
    len(weights) (``_md5_bucket``), so a SQL oracle reproduces scores
    bit-for-bit; training the weights happens offline (any
    logistic-regression fit) — this operator is the serving side.

    A doc with no tokens scores sigmoid(bias) — the prior.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    n = len(weights)
    w_arr = F.array(*[F.lit(float(w)) for w in weights])
    # null text -> EMPTY token array (coalesced here, not at size():
    # under spark.sql.ansi.enabled=false size(NULL) is -1, not NULL,
    # so a size-level coalesce never fires — the array-level coalesce
    # makes the 0-count contract config-independent)
    toks = F.coalesce(
        F.filter(
            F.split(normalized_text(F.col("text")), " "),
            lambda t: F.length(t) > 0,
        ),
        F.array().cast("array<string>"),
    )
    tok_w = F.transform(
        toks, lambda t: F.element_at(w_arr, _md5_bucket(t, n) + 1)
    )
    logit = F.lit(float(bias)) + F.when(F.size(tok_w) > 0,
        F.aggregate(tok_w, F.lit(0.0), lambda a, x: a + x) / F.size(tok_w)
    ).otherwise(F.lit(0.0))
    return ensure_parallelism(df).select(
        F.col("doc_id"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("clf_score"),
        # corrupt (null-text) rows score the prior with count 0 — they
        # don't poison downstream filters
        F.size(toks).cast("bigint").alias("n_tokens"),
    )


def bigram_lm_score(docs: DataFrame, k: float = 0.5) -> DataFrame:
    """CCNet-style corpus language-model quality scoring: fit an
    add-k-smoothed bigram model ON the corpus, then score every
    document by mean token log-probability and perplexity (low ppl =
    fluent/templated, high ppl = gibberish — both tails are filter
    targets in pretraining curation).

    P(w2 | w1) = (c(w1, w2) + k) / (c(w1, .) + k * V), with V the
    corpus-wide distinct-successor count.  The whole thing is three
    aggregations over ONE tokenize+explode pass and two joins — no
    UDFs, no driver-side model object, fully oracle-checkable:

    - pairs: explode adjacent token pairs (one scan of documents);
    - c2 = count per (w1, w2); c1 = count per w1; V = 1-row scalar;
    - join pairs -> c2 on (w1, w2), -> c1 on w1, broadcast V, then
      groupBy doc and average log P.

    Scale notes: both count tables are sub-linear in the corpus
    (vocab saturates), so at 100 TB the c1 join is a broadcast
    candidate and c2 a bucketed/shuffle join — neither carries a
    hint; stats/AQE decide.  Natural-language token frequency is
    Zipfian, so the (w1, w2) shuffle key is the right one: it splits
    a hot context's mass across its successors instead of
    concentrating on w1 (the c1 aggregation DOES key on w1 alone, but
    counts partial-aggregate map-side, so the hot key moves one long
    per task, not its rows).  Docs with fewer than 2 tokens carry no
    bigram evidence and are excluded (count them upstream via
    ``token_count`` if coverage accounting needs them).
    """
    t = normalized_text(F.col("text"))
    toks = F.split(t, " ")
    n = F.size(toks)
    pairs = (
        # single-split scan guard (optimization r12): the tokenize+
        # explode pass below is the dominant map cost and otherwise
        # runs in one task on a one-row-group input file. The former
        # length(t) > 0 / n >= 2 pre-filters are gone: they were
        # pushed below the repartition (Catalyst pushes deterministic
        # predicates through Repartition), forcing a serial
        # regex+split pass on the single-split scan side — and they
        # were semantically redundant, because a doc with fewer than
        # two tokens zips to EMPTY shifted slices and explode emits
        # nothing for it (null text likewise: explode(null) emits no
        # rows), so the pairs output is identical without them.
        ensure_parallelism(docs)
        .select(
            F.col("doc_id"),
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, n - 1).alias("w1"),
                    F.slice(toks, 2, n - 1).alias("w2"),
                )
            ).alias("pr"),
        )
        .select("doc_id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        # pairs feed FOUR consumers (c2, c1, vocab, and the final
        # join); the lazy localCheckpoint cuts the lineage so the
        # tokenize+explode prefix scans the corpus once, not once per
        # consumer
        .localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = pairs.agg(F.countDistinct("w2").alias("v"))
    logp = F.log(
        (F.col("c2") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))
    )
    return (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(logp).alias("avg_logp"),
        )
        .withColumn("ppl", F.exp(-F.col("avg_logp")))
    )
