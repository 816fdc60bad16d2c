"""LLM pipeline operators: dedup recall and edge cases, connected
components, sessionization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.tables import load_table
from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH (32 hashes, 8 bands) must recover the high-similarity pairs
    the exact n-gram Jaccard finds."""
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8, threshold=0.8).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9
    assert lsh <= exact  # verification step kills false positives


def test_minhash_params_rule_and_auto_recall(docs):
    """minhash_params: analytic recall at the threshold clears the
    target, r grows with the threshold (selectivity), the budget holds;
    and auto-sized minhash_lsh_pairs (num_hashes=None) matches exact
    Jaccard with >= 0.9 recall."""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import minhash_params

    prev_r = 0
    for t in (0.3, 0.5, 0.7, 0.9):
        num_hashes, bands = minhash_params(t)
        r = num_hashes // bands
        assert r >= prev_r, "rows-per-band must not shrink as threshold rises"
        prev_r = r
        assert num_hashes <= 256 and num_hashes % bands == 0
        assert 1.0 - (1.0 - t**r) ** bands >= 0.9
    exact = {
        (p.id_a, p.id_b)
        for p in ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    auto = {
        (p.id_a, p.id_b)
        for p in minhash_lsh_pairs(
            docs, n=3, num_hashes=None, bands=None, threshold=0.8
        ).collect()
    }
    assert exact and len(exact & auto) / len(exact) >= 0.9
    assert auto <= exact


def test_simhash_base_hash_modes_agree_on_exact_dups(docs):
    """Docs with identical distinct-token sets hash identically under
    EITHER signature mode, so those pairs must be hamming-0 in both
    md5 (oracle-exact) and xxhash64 (scale path). (Full hamming-0 sets
    may differ: unrelated docs can vote-collide, and collisions are
    hash-family-dependent.)"""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        simhash_near_pairs,
    )

    pdf = docs.toPandas()
    tokset = {
        r.doc_id: frozenset(str(r.text).lower().split()) for _, r in pdf.iterrows()
    }
    ids = sorted(tokset)
    same_tokens = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if tokset[a] == tokset[b]
    }
    assert same_tokens, "fixture should contain exact near-duplicates"
    for mode in ("md5", "xxhash64"):
        got = {
            (r.id_a, r.id_b)
            for r in simhash_near_pairs(docs, max_hamming=0, base_hash=mode).collect()
        }
        assert same_tokens <= got


def test_sessionize_gap_splits(spark):
    import datetime as dt

    from gapless_deribit_clickhouse_spark.operators.sessionize import (
        session_stats,
        sessionize,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: two sessions (40-min gap), user 2: one session
        (1, base), (1, base + dt.timedelta(minutes=10)),
        (1, base + dt.timedelta(minutes=50)),
        (2, base), (2, base + dt.timedelta(minutes=29)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    s = sessionize(ev, gap_seconds=1800).toPandas()
    u1 = s[s.user_id == 1].sort_values("ts")
    assert u1.session_seq.tolist() == [1, 1, 2]
    stats = session_stats(ev).toPandas()
    assert len(stats) == 3
    u2 = stats[(stats.user_id == 2)]
    assert u2.n_events.tolist() == [2] and u2.duration_s.tolist() == [29 * 60.0]


def test_connected_components_tiers_agree(spark):
    from gapless_deribit_clickhouse_spark.operators.connected_components import (
        connected_components,
    )

    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # local union-find tier (default threshold) and distributed
    # star-contraction tier (threshold 0) must agree
    st_local: dict = {}
    comp = {
        r.node: r.component
        for r in connected_components(pairs, stats=st_local).collect()
    }
    assert comp == expected
    st_dist: dict = {}
    dist = {
        r.node: r.component
        for r in connected_components(
            pairs, local_threshold=0, stats=st_dist
        ).collect()
    }
    assert dist == expected
    # stats out-param (VERDICT r11 #5): the scaling probe attributes
    # growth to pair count vs star-round count from these fields
    assert st_local == {
        "input_edges": 7,
        "rounds": 0,
        "local_tier": True,
        "local_edges": 7,
    }
    assert st_dist["input_edges"] == 7 and st_dist["local_tier"] is False
    assert st_dist["rounds"] >= 1  # star rounds actually ran


def test_minhash_fast_hash_path_finds_same_dups(spark):
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),      # near-dup of 1
            (3, "completely different words about spark partitions and shuffles ok"),
        ],
        "doc_id long, text string",
    )
    slow = minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b").collect()
    fast = minhash_lsh_pairs(docs, threshold=0.5, base_hash="xxhash64").select(
        "id_a", "id_b"
    ).collect()
    assert {(r.id_a, r.id_b) for r in slow} == {(1, 2)}
    assert {(r.id_a, r.id_b) for r in fast} == {(1, 2)}
    import pytest

    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, base_hash="sha9000").collect()


def test_near_dedup_corpus_one_call_filter(spark, docs):
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        near_dedup_corpus,
    )

    base = docs.select("doc_id", "text", "lang", "source", "n_chars")
    # plant one exact duplicate and one trivially-near duplicate of
    # doc 0 with HIGHER ids (canonical = min id survives)
    d0 = base.filter(F.col("doc_id") == 0)
    exact = d0.select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = d0.select(
        (F.col("doc_id") + 900_001).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    dirty = base.unionByName(exact).unionByName(near)
    kept = near_dedup_corpus(dirty, threshold=0.8).toPandas()
    ids = set(kept.doc_id)
    assert 0 in ids  # canonical survives
    assert 900_000 not in ids  # exact dup dropped by the exact tier
    assert 900_001 not in ids  # near dup dropped by the LSH tier
    assert list(kept.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    # idempotent: running on the already-clean OUTPUT drops nothing
    clean_df = spark.createDataFrame(
        kept, "doc_id long, text string, lang string, source string, n_chars long"
    )
    again = near_dedup_corpus(clean_df, threshold=0.8).toPandas()
    assert set(again.doc_id) == ids


def test_interdoc_repetition_flags_planted_boilerplate(spark):
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        interdoc_repetition,
    )

    boiler = "subscribe to our newsletter for updates"
    rows = [
        (i, boiler + " " + " ".join(f"tail{i}w{j}" for j in range(6)))
        for i in range(10)
    ]
    # fully unique docs: every token carries the doc index
    rows += [
        (100 + i, " ".join(f"solo{100 + i}w{j}" for j in range(9)))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = interdoc_repetition(df, min_docs=5).toPandas().set_index("doc_id")
    assert len(out) == 20  # one row per doc, zero-shared docs included
    boiler_docs = out.loc[range(10)]
    solo_docs = out.loc[range(100, 110)]
    # the 4 boilerplate 3-grams appear in 10 >= 5 docs -> shared
    assert (boiler_docs.shared_shingles == 4).all()
    assert (solo_docs.shared_shingles == 0).all()
    assert ((out.shared_fraction >= 0) & (out.shared_fraction <= 1)).all()
    # raising min_docs past the clique size clears the signal
    strict = interdoc_repetition(df, min_docs=11).toPandas()
    assert (strict.shared_shingles == 0).all()


def test_incremental_dedup_against_corpus(spark):
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        incremental_dedup,
    )

    def sent(i: int) -> str:
        return " ".join(f"corp{i}tok{j}" for j in range(12))

    corpus = spark.createDataFrame(
        [(i, sent(i)) for i in range(10)], ["doc_id", "text"]
    )
    fresh = [(100 + i, " ".join(f"new{i}tok{j}" for j in range(12))) for i in range(5)]
    batch_rows = fresh + [
        (200, sent(3)),                  # exact copy of corpus doc 3
        (201, sent(4) + " extra"),       # near copy of corpus doc 4
        (202, fresh[0][1]),              # exact within-batch copy of 100
        (203, fresh[1][1] + " tail"),    # near within-batch copy of 101
    ]
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])

    kept = incremental_dedup(batch, corpus, threshold=0.8).toPandas()
    ids = set(kept.doc_id)
    assert ids == {100, 101, 102, 103, 104}  # fresh docs survive, min-id wins
    assert list(kept.columns) == ["doc_id", "text"]
    # idempotent: re-running the kept batch against the same corpus
    # drops nothing further
    kept_df = spark.createDataFrame(kept, "doc_id long, text string")
    again = incremental_dedup(kept_df, corpus, threshold=0.8).toPandas()
    assert set(again.doc_id) == ids


def test_containment_catches_what_jaccard_misses(spark):
    """The operator's reason to exist: a short doc quoted whole inside
    a much longer one has containment ~1 but Jaccard ~|small|/|large|
    — below any sane symmetric threshold."""
    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        containment_pairs,
    )

    small = " ".join(f"s{i}" for i in range(12))
    big = small + " " + " ".join(f"b{i}" for i in range(200))
    rows = [
        (1, small),
        (2, big),
        (3, " ".join(f"x{i}" for i in range(50))),  # unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = containment_pairs(df, threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.contained_id == 1  # the smaller side is the drop target
    assert r.containment == 1.0  # every small-doc trigram is in big
    assert r.jaccard < 0.1  # symmetric measure misses this pair
    # symmetric operator at the same corpus finds nothing at 0.5
    assert ngram_jaccard_pairs(df, threshold=0.5).count() == 0


def test_simhash_chunk_filter_dedup_equals_distinct(spark):
    """r11 rework guard: candidate-pair dedup moved from distinct()
    to the first-zero-XOR-chunk filter (a pair matching in m chunks
    exits the bucket join m times; exactly one copy sits at the first
    zero 15-bit slice of the XOR). The two must produce EXACTLY the
    same pair set — rebuilt here via the old distinct() route over
    the same signatures, on a corpus salted with exact dups,
    multi-chunk near-dups, and unrelated docs."""
    from pyspark.sql import functions as F

    from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
        simhash64,
        simhash_near_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump",
        "sphinx of black quartz judge my vow",
    ]
    rows = []
    did = 0
    for i, b in enumerate(base):
        for copy in range(3):  # exact dups -> hamming 0, all 4 chunks match
            rows.append((did, b))
            did += 1
        rows.append((did, b + f" salt{i}"))  # near-dup of the clique
        did += 1
    for j in range(40):  # unrelated filler
        rows.append((did, f"unique document number {j} token{j} filler{j * 7}"))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for k in (0, 3, 10):
        new = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_near_pairs(docs, max_hamming=k).collect()
        }
        # the pre-r11 route: explode chunks, bucket self-join, distinct
        sig = simhash64(docs, "text", "doc_id", "md5")
        chunks = F.array(*[
            F.shiftright(F.col("simhash"), c * 15)
            .bitwiseAND(F.lit(0x7FFF))
            .alias(f"c{c}")
            for c in range(4)
        ])
        b = sig.select(
            "id", "simhash", F.posexplode(chunks).alias("chunk", "chunk_val")
        )
        cand = (
            b.alias("x")
            .join(b.alias("y"), on=["chunk", "chunk_val"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                F.col("x.simhash").alias("sh_a"),
                F.col("y.simhash").alias("sh_b"),
            )
            .distinct()
        )
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        old = {
            (r.id_a, r.id_b, r.hamming)
            for r in cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= k)
            .select("id_a", "id_b", "hamming")
            .collect()
        }
        assert new == old, f"k={k}: filter dedup != distinct dedup"
        if k == 0:
            # every exact-dup clique pair must be present: 3 per clique
            assert len(new) >= 4 * 3
