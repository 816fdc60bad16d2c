"""LLM-data-pipeline bindings: text dedup (exact / n-gram Jaccard /
MinHash-LSH / SimHash / containment, corpus-level and incremental
near-dedup, inter-document repetition) — each with a DuckDB oracle
built from the SAME deterministic md5/arithmetic primitives."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)

# One source of truth for the near-dedup Jaccard cutoff: the Spark
# calls (near_dedup_docs_q, incremental_dedup_q) and the generated
# DuckDB CTE chain (_lsh_cc_kept_ctes) all read this, so the
# engine and oracle cannot desync on threshold / minhash_params sizing.
_DEDUP_THRESHOLD = 0.8

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents"
_GRAMS3 = (
    "SELECT doc_id, unnest(list_distinct("
    "CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) "
    "ELSE [array_to_string(t, ' ')] END)) AS shingle FROM toks"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- exact dedup (hash groupBy) ---
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM}) AS text_hash, min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


# --- exact n-gram Jaccard near-dup pairs ---
def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


NGRAM_JACCARD_SQL = f"""
WITH toks AS ({_TOKS}),
grams AS ({_GRAMS3}),
sz AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, inter / (sa.c + sb.c - inter) AS jaccard
FROM j JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter / (sa.c + sb.c - inter) >= 0.5
"""


# --- MinHash-LSH near-dup pairs (banded bucket join + verify) ---
_NUM_HASHES, _BANDS, _R = 32, 8, 4


def minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5
    )


def _minhash_sql() -> str:
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        MINHASH_PRIME as _P,
        minhash_affine_params,
    )

    # base hash: first 15 hex chars of md5('0:' || shingle) parsed via
    # Horner-with-mod (stays in int64; a naive 16^k sum would round in
    # doubles), then the same (a*h + b) % p family as the Spark side
    base = (
        "list_reduce(list_transform(range(1, 16), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5('0:' || shingle), i, 1)) - 1 AS BIGINT)), "
        f"(acc, d) -> (acc * 16 + d) % {_P})"
    )
    mins = ",\n         ".join(
        f"min((h * CAST({a} AS BIGINT) + {b}) % {_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_affine_params(_NUM_HASHES))
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(f"a.h{b * _R + i} = b.h{b * _R + i}" for i in range(_R))
        + ")"
        for b in range(_BANDS)
    )
    return f"""
WITH toks AS ({_TOKS}),
grams AS ({_GRAMS3}),
hg AS (SELECT doc_id, {base} AS h FROM grams),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hg GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {band_eq}),
sz AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
j AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.shingle = ga.shingle
  GROUP BY 1, 2)
SELECT id_a, id_b, inter / (sa.c + sb.c - inter) AS jaccard
FROM j JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter / (sa.c + sb.c - inter) >= 0.5
"""


MINHASH_LSH_SQL = _minhash_sql()


# --- SimHash near-dup pairs (15-bit chunk buckets, hamming <= 3) ---
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def _simhash_sql() -> str:
    # bit b of the 60-bit value parsed from the first 15 hex chars of
    # md5('0:' || tok): hex digit (from the right) jr = b//4 lives at
    # string position 15 - jr; bit (b % 4) of that digit.
    votes = []
    for b in range(60):
        pos = 15 - b // 4
        shift = b % 4
        bit = (
            f"((strpos('0123456789abcdef', substr(md5('0:' || tok), {pos}, 1)) - 1) >> {shift}) & 1"
        )
        votes.append(f"sum(CASE WHEN ({bit}) = 1 THEN 1 ELSE -1 END) AS v{b}")
    votes_sql = ",\n         ".join(votes)
    sh = " + ".join(f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)" for b in range(60))
    chunk_eq = " OR ".join(
        f"(((a.simhash >> {c * 15}) & 32767) = ((b.simhash >> {c * 15}) & 32767))" for c in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS tok
  FROM documents),
votes AS (
  SELECT doc_id,
         {votes_sql}
  FROM toks GROUP BY doc_id),
sig AS (SELECT doc_id, {sh} AS simhash FROM votes)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({chunk_eq}) AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


SIMHASH_SQL = _simhash_sql()


def _minhash_sql_parts(thr: float) -> tuple[str, str, str]:
    """The three DuckDB fragments of the banded-minhash derivation —
    (base shingle hash, per-signature min expressions, band equality
    over aliases a/b) — auto-sized from the threshold with the SAME
    ``minhash_params`` call the Spark side uses. ONE generator for
    every oracle that reproduces the banding (the within-set CC chain
    and the incremental cross tier): a change to the band layout or
    base hash lands in both or neither."""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        MINHASH_PRIME as _P,
        minhash_affine_params,
        minhash_params,
    )

    num_hashes, bands = minhash_params(thr)
    r = num_hashes // bands
    base = (
        "list_reduce(list_transform(range(1, 16), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5('0:' || shingle), i, 1)) - 1 AS BIGINT)), "
        f"(acc, d) -> (acc * 16 + d) % {_P})"
    )
    mins = ",\n         ".join(
        f"min((h * CAST({a} AS BIGINT) + {b}) % {_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_affine_params(num_hashes))
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(f"a.h{b * r + i} = b.h{b * r + i}" for i in range(r))
        + ")"
        for b in range(bands)
    )
    return base, mins, band_eq


def _lsh_cc_kept_ctes(survivor_cte: str, thr: float) -> str:
    """The MinHash-LSH -> exact-Jaccard -> connected-components ->
    survivors CTE chain, from a (doc_id) relation named
    ``survivor_cte`` to a ``kept`` relation — shared by the
    near_dedup_docs and incremental_dedup oracles so the dedup
    semantics cannot desync. Auto-sizes (num_hashes, bands) from the
    threshold with the SAME ``minhash_params`` derivation the Spark
    side uses; components via recursive reachability (UNION dedups
    rows, so the walk reaches a fixpoint; label = min reachable id).
    Must be spliced after a ``WITH RECURSIVE`` head."""
    base, mins, band_eq = _minhash_sql_parts(thr)
    return f"""stoks AS (
  SELECT d.doc_id, string_split({_NORM}, ' ') AS t
  FROM documents d JOIN {survivor_cte} USING (doc_id)),
sgrams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
    ELSE [array_to_string(t, ' ')] END)) AS shingle FROM stoks),
hg AS (SELECT doc_id, {base} AS h FROM sgrams),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hg GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {band_eq}),
ssz AS (SELECT doc_id, count(*) AS c FROM sgrams GROUP BY doc_id),
jac AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sgrams ga ON ga.doc_id = c.id_a
  JOIN sgrams gb ON gb.doc_id = c.id_b AND gb.shingle = ga.shingle
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b
  FROM jac JOIN ssz sa ON sa.doc_id = id_a JOIN ssz sb ON sb.doc_id = id_b
  WHERE inter / (sa.c + sb.c - inter) >= {thr}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
walk(u, rr) AS (
  SELECT u, v FROM edges
  UNION
  SELECT w.u, e.v FROM walk w JOIN edges e ON w.rr = e.u AND e.v <> w.u),
comp AS (
  SELECT u AS id, least(min(rr), u) AS component FROM walk GROUP BY u),
losers AS (SELECT id FROM comp WHERE component <> id),
kept AS (
  SELECT doc_id FROM {survivor_cte}
  WHERE doc_id NOT IN (SELECT id FROM losers))"""


def near_dedup_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call near-dedup corpus filter as its own oracle-checked
    binding: exact tier -> auto-sized MinHash-LSH
    pairs on survivors -> connected components -> anti-join losers,
    projected to the compare-friendly columns."""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        near_dedup_corpus,
    )

    return near_dedup_corpus(_docs(spark, sf_dir), threshold=_DEDUP_THRESHOLD).select(
        "doc_id", "lang", "source"
    )


NEAR_DEDUP_DOCS_SQL = f"""
WITH RECURSIVE winners AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})),
{_lsh_cc_kept_ctes("winners", _DEDUP_THRESHOLD)}
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN kept USING (doc_id)
"""


# --- inter-document repetition (duplicated n-gram fraction) ---
def interdoc_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct 3-gram shingles shared with >= 5
    documents — the RefinedWeb-style boilerplate/template signal."""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        interdoc_repetition,
    )

    return interdoc_repetition(_docs(spark, sf_dir), min_docs=5)


INTERDOC_REPETITION_SQL = f"""
WITH toks AS ({_TOKS}),
grams AS ({_GRAMS3}),
freq AS (SELECT shingle, count(*) AS df_count FROM grams GROUP BY shingle)
SELECT g.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.df_count >= 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS shared_shingles,
       CAST(sum(CASE WHEN f.df_count >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS shared_fraction
FROM grams g JOIN freq f USING (shingle)
GROUP BY g.doc_id
"""


# --- incremental dedup: new batch vs existing corpus ---
def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state dedup shape: documents with doc_id % 5 >= 3
    arrive as the NEW batch and are deduped within-batch AND against
    the % 5 < 3 'existing corpus' — exact digest anti-join plus
    banded-LSH candidates with exact-Jaccard verification, never a
    corpus-corpus pair."""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        incremental_dedup,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 >= 3)
    corpus = docs.filter(F.col("doc_id") % 5 < 3)
    return incremental_dedup(batch, corpus, threshold=_DEDUP_THRESHOLD).select(
        "doc_id", "lang", "source"
    )


def _incremental_dedup_sql(thr: float) -> str:
    """Oracle for ``incremental_dedup_q``: the within-batch tier is
    the SAME composed chain as near_dedup_docs (``_lsh_cc_kept_ctes``
    over the batch's exact-dedup winners), then an exact digest
    anti-join against the corpus, then cross-batch banded-minhash
    candidates (same auto-sized params, same affine family) verified
    with exact shingle Jaccard."""
    base, mins, band_eq = _minhash_sql_parts(thr)
    norm_c = _NORM.replace("(text)", "(c.text)")
    return f"""
WITH RECURSIVE corp AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 < 3),
winners AS (
  SELECT min(d.doc_id) AS doc_id
  FROM documents d WHERE d.doc_id % 5 >= 3
  GROUP BY md5({_NORM})),
{_lsh_cc_kept_ctes("winners", thr)},
kept2 AS (
  SELECT k.doc_id
  FROM kept k JOIN documents d USING (doc_id)
  WHERE md5({_NORM}) NOT IN (
    SELECT md5({norm_c}) FROM documents c JOIN corp USING (doc_id))),
univ AS (SELECT doc_id FROM kept2 UNION ALL SELECT doc_id FROM corp),
stoksx AS (
  SELECT d.doc_id, string_split({_NORM}, ' ') AS t
  FROM documents d JOIN univ USING (doc_id)),
sgramsx AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
    ELSE [array_to_string(t, ' ')] END)) AS shingle FROM stoksx),
hgx AS (SELECT doc_id, {base} AS h FROM sgramsx),
sigx AS (
  SELECT doc_id,
         {mins}
  FROM hgx GROUP BY doc_id),
candx AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corp_id
  FROM sigx a JOIN sigx b
    ON a.doc_id IN (SELECT doc_id FROM kept2)
   AND b.doc_id IN (SELECT doc_id FROM corp)
   AND ({band_eq})),
sszx AS (SELECT doc_id, count(*) AS c FROM sgramsx GROUP BY doc_id),
jacx AS (
  SELECT c.new_id, c.corp_id, count(*) AS inter
  FROM candx c
  JOIN sgramsx ga ON ga.doc_id = c.new_id
  JOIN sgramsx gb ON gb.doc_id = c.corp_id AND gb.shingle = ga.shingle
  GROUP BY 1, 2),
crosslosers AS (
  SELECT DISTINCT new_id AS doc_id
  FROM jacx
  JOIN sszx sa ON sa.doc_id = new_id
  JOIN sszx sb ON sb.doc_id = corp_id
  WHERE inter / (sa.c + sb.c - inter) >= {thr})
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN kept2 USING (doc_id)
WHERE d.doc_id NOT IN (SELECT doc_id FROM crosslosers)
"""


INCREMENTAL_DEDUP_SQL = _incremental_dedup_sql(_DEDUP_THRESHOLD)


# --- asymmetric near-containment pairs (round 8) ---
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A∩B| / min(|A|,|B|) >= 0.9 over trigram shingle sets — the
    small-doc-inside-big-doc duplication class symmetric Jaccard
    misses (pipelines/text_dedup.py:containment_pairs; same
    single-scan shingle-bucket intersection core as
    ngram_jaccard_pairs, containment is a formula, not a new join)."""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        containment_pairs,
    )

    return containment_pairs(_docs(spark, sf_dir), n=3, threshold=0.9)


CONTAINMENT_PAIRS_SQL = f"""
WITH toks AS ({_TOKS}),
grams AS ({_GRAMS3}),
sz AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       inter / least(sa.c, sb.c) AS containment,
       inter / (sa.c + sb.c - inter) AS jaccard,
       CASE WHEN sa.c <= sb.c THEN id_a ELSE id_b END AS contained_id
FROM j JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter / least(sa.c, sb.c) >= 0.9
"""


BINDINGS = [
    ("dedup_exact", dedup_exact_q, DEDUP_EXACT_SQL),
    ("ngram_jaccard_pairs", ngram_jaccard_q, NGRAM_JACCARD_SQL),
    ("minhash_lsh_pairs", minhash_lsh_q, MINHASH_LSH_SQL),
    ("simhash_near_pairs", simhash_q, SIMHASH_SQL),
    # the one-call near-dedup filter, oracle-checked standalone
    ("near_dedup_docs", near_dedup_docs_q, NEAR_DEDUP_DOCS_SQL),
    ("interdoc_repetition", interdoc_repetition_q, INTERDOC_REPETITION_SQL),
    ("incremental_dedup", incremental_dedup_q, INCREMENTAL_DEDUP_SQL),
    ("containment_pairs", containment_pairs_q, CONTAINMENT_PAIRS_SQL),
]
