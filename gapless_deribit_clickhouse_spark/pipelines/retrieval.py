"""Retrieval: distributed Okapi BM25 top-k + reciprocal-rank fusion.

The LLM-data loop needs lexical retrieval in three places the
embedding tier can't cover alone: eval-set decontamination sweeps
("which training docs score high against this benchmark question"),
targeted quality audits ("pull the top matches for this boilerplate
phrase"), and hybrid rerank candidates. BM25 is the standard lexical
scorer, and it reduces entirely to column algebra over one
tokenize+explode pass — no UDFs, no driver-side index object, fully
oracle-checkable (reference analogue: the corpus keyword scans the
reference runs as ClickHouse full-scan SQL; here the score is the
classic Robertson/Sparck-Jones formulation).

score(q, d) = sum over query terms t of
    idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))  (Lucene's
non-negative variant), tf the term count in d, dl the token length of
d, avgdl the corpus mean, N the corpus size, df the number of docs
containing t.

Scale design (the 100 TB story):

- ONE corpus scan: tokenize + explode feeds the (doc, token) term
  table; doc length rides along and is reduced with ``max`` inside
  the same groupBy, so no second scan or doc-length join exists.
- The query-term table is tiny (a handful of literals) and broadcast;
  the per-term document frequency is a window count over the ALREADY
  FILTERED term table, so the full-vocabulary df table is never
  materialized — at 100 TB only postings for query terms move.
- (N, avgdl) is a 1-row scalar broadcast (the bounded-NLJ shape the
  plan contract allowlists).
- Top-k per query is a rank-limit window: Spark's WindowGroupLimit
  caps per-map-task output at k rows per query BELOW the exchange, so
  the final shuffle carries tasks*k rows, not every matching doc.
- Scores are rounded to 6 dp BEFORE ranking in both engines: the
  cross-term float sum is order-sensitive at ulp scale, and rounding
  first makes the (score, doc_id) rank deterministic under shuffle.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.partitioning import ensure_parallelism
from gapless_deribit_clickhouse_spark.pipelines.text_dedup import normalized_text
from gapless_deribit_clickhouse_spark.pipelines.text_stats import token_count


def rrf_fuse(
    rankings: list[DataFrame],
    on: tuple[str, ...] = ("query_id", "vec_id"),
    c: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings (the standard
    hybrid-retrieval combiner): rrf_score = sum over systems of
    1 / (c + rank), items missing from a system contribute 0.

    Rank lists are top-k-per-query sized — metadata scale next to the
    corpus — so the full-outer joins between them are cheap at any SF;
    the expression tree fixes the summation order (left to right), so
    the fused score is bit-identical across engines, no rounding
    needed before the (score desc, id) rank. Output: the ``on`` keys,
    ``n_systems`` (how many rankings contained the item),
    ``rrf_score``, ``rank``.
    """
    if not rankings:
        raise ValueError("need at least one ranking")
    keys = list(on)
    sides = [
        r.select(
            *keys,
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank"))).alias(f"__c{i}"),
        )
        for i, r in enumerate(rankings)
    ]
    fused = sides[0]
    for s in sides[1:]:
        fused = fused.join(s, keys, "full")
    contribs = [F.col(f"__c{i}") for i in range(len(sides))]
    n_systems = sum(
        (c.isNotNull().cast("int") for c in contribs), F.lit(0)
    ).alias("n_systems")
    score = contribs[0] if len(contribs) == 1 else F.coalesce(contribs[0], F.lit(0.0))
    for c_ in contribs[1:]:
        score = score + F.coalesce(c_, F.lit(0.0))
    w = Window.partitionBy(keys[0]).orderBy(F.desc("rrf_score"), *keys[1:])
    return (
        fused.select(*keys, n_systems, score.alias("rrf_score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def tokenize_query(text: str) -> list[str]:
    """The Python twin of ``normalized_text`` + split: lowercase,
    collapse whitespace, distinct tokens in first-seen order."""
    toks = text.lower().split()
    return sorted(set(toks), key=toks.index)


def bm25_topk(
    docs: DataFrame,
    queries: Mapping[str, str],
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents per query by Okapi BM25 (k1 = 1.2,
    b = 0.75).

    ``queries`` maps query_id -> query text (tokenized with the same
    normalization as the corpus; duplicate query terms count once, the
    common bag-of-words simplification). Returns
    (query_id, doc_id, n_terms, score, rank) — only documents
    matching at least one query term appear, so a query with no
    corpus hits contributes zero rows.
    """
    spark = docs.sparkSession
    qrows = [
        (qid, tok) for qid, qtext in sorted(queries.items())
        for tok in tokenize_query(qtext)
    ]
    if not qrows:
        raise ValueError("queries must contain at least one non-empty query")
    # plan literals (Range -> inline), not createDataFrame: an RDD-backed
    # local table would read as an opaque non-JVM scan in plan audits
    qterms = spark.range(1).select(
        F.inline(
            F.array(*[
                F.struct(
                    F.lit(qid).alias("query_id"), F.lit(tok).alias("token")
                )
                for qid, tok in qrows
            ])
        )
    )

    k1, b = 1.2, 0.75
    t = normalized_text(F.col("text"))
    dl = token_count(F.col("text"))
    # project the token array ONCE, then size/explode the projected
    # attribute — referencing the raw expression in both places would
    # re-run the normalization regex per use (the chunk_documents
    # pattern; CollapseProject can't merge across the Generate).
    # ensure_parallelism spreads a few-file scan before the
    # regex-heavy pass (text_stats convention); it wraps only THIS
    # branch — the (N, avgdl) scalar agg below stays on the raw scan,
    # where map-side partials need no repartition
    # explode_OUTER (optimization r13): plain explode lets
    # InferFiltersFromGenerate synthesize `size(__arr) > 0` and push
    # the whole normalize+split below the parallelizing exchange onto
    # the single-split scan task; outer explode admits no such
    # inference, and the null token it emits for an empty doc fails
    # the existing length(token) > 0 filter — output identical.
    toks = (
        ensure_parallelism(docs).select(F.col("doc_id"), F.split(t, " ").alias("__arr"))
        .select(
            F.col("doc_id"),
            F.size("__arr").alias("dl"),
            F.explode_outer("__arr").alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    # term frequencies; dl is constant per doc so max() carries it
    # through the same exchange — no doc-length join
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(dl).alias("avgdl")
    )

    matched = tf.join(F.broadcast(qterms), "token")
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("query_id", "token"))
    scored = matched.withColumn("df", dfreq).join(F.broadcast(stats))

    tfd = F.col("tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")) + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = tfd + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    term_score = idf * ((tfd * F.lit(k1 + 1.0)) / norm)

    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.sum(term_score), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id"))
    return per_doc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
