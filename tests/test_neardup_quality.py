"""Quality pins for the approximate operators (the correctness story the
SQL oracle can't give): planted near-duplicates must be FOUND (recall) and
everything reported must satisfy the verified threshold (precision is
enforced by the exact verify step — asserted anyway).

Corpus: real sf0.001 documents + seeded mutations (word drops/swaps) with
known pair identity; embeddings + small-noise twins likewise.
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators import dedup as D
from duckdb_cloudflare_spark.operators import similarity as S
from duckdb_cloudflare_spark.queries import load

SF_DIR = "/root/testdata/sf0.001"
N_PLANT = 25
OFFSET = 1_000_000  # planted copy id = original id + OFFSET


def _mutate(text: str, rng: random.Random, n_edits: int = 2) -> str:
    words = text.split()
    for _ in range(n_edits):
        if len(words) < 4:
            break
        i = rng.randrange(len(words))
        if rng.random() < 0.5:
            del words[i]
        else:
            words[i] = "zzyzx"
    return " ".join(words)


@pytest.fixture(scope="module")
def planted_docs(spark):
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").limit(N_PLANT * 4)
    rows = docs.collect()
    rng = random.Random(42)
    planted = [
        (r["doc_id"] + OFFSET, _mutate(r["text"], rng)) for r in rows[:N_PLANT]
    ]
    extra = spark.createDataFrame(planted, "doc_id long, text string")
    return docs.unionByName(extra), {r["doc_id"] for r in rows[:N_PLANT]}


def _recall(pairs_df, expected_ids):
    found = {
        r["id_a"]
        for r in pairs_df.filter(F.col("id_b") - F.col("id_a") == OFFSET).collect()
    }
    return len(found & expected_ids) / len(expected_ids)


def test_minhash_recall_and_threshold(planted_docs):
    df, expected = planted_docs
    pairs = D.minhash_lsh_pairs(df, threshold=0.5)
    assert _recall(pairs, expected) >= 0.85
    # verify step enforces the threshold on everything reported
    assert pairs.filter(F.col("jaccard_sim") < 0.5).count() == 0


def test_ngram_jaccard_recall(planted_docs):
    df, expected = planted_docs
    pairs = D.ngram_jaccard_pairs(df, threshold=0.6)
    assert _recall(pairs, expected) >= 0.8
    assert pairs.filter(F.col("jaccard_sim") < 0.6).count() == 0


def test_simhash_finds_planted_dups(planted_docs):
    df, expected = planted_docs
    pairs = D.simhash_pairs(df, max_hamming=3)
    assert _recall(pairs, expected) >= 0.7
    assert pairs.filter(F.col("hamming") > 3).count() == 0


def test_minhash_dedup_drops_planted_copies(planted_docs):
    df, expected = planted_docs
    survivors = D.minhash_dedup(df, threshold=0.5)
    surviving_copies = survivors.filter(F.col("doc_id") >= OFFSET).count()
    # most planted copies (larger ids) are dropped
    assert surviving_copies <= N_PLANT * 0.2


@pytest.fixture(scope="module")
def planted_vecs(spark):
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(100)
    rows = emb.collect()
    rng = random.Random(7)
    twins = [
        (
            r["vec_id"] + OFFSET,
            [float(x) + rng.uniform(-0.01, 0.01) for x in r["embedding"]],
        )
        for r in rows[:N_PLANT]
    ]
    extra = spark.createDataFrame(twins, "vec_id long, embedding array<float>")
    return emb.unionByName(extra), {r["vec_id"] for r in rows[:N_PLANT]}


def test_embedding_neardup_recall(planted_vecs):
    df, expected = planted_vecs
    pairs = D.embedding_neardup_pairs(df, threshold=0.98)
    found = {
        r["id_a"]
        for r in pairs.filter(F.col("id_b") - F.col("id_a") == OFFSET).collect()
    }
    assert len(found & expected) / len(expected) >= 0.8
    assert pairs.filter(F.col("cosine_sim") < 0.98).count() == 0


@pytest.fixture(scope="module")
def ann_frames(spark):
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(q, emb, k=5).collect()
    }
    return emb, q, exact


def _topk_recall(approx_df, exact_pairs):
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_df.collect()}
    return len(approx & exact_pairs) / len(exact_pairs)


def test_lsh_topk_retrieves_high_cosine_twins(spark, planted_vecs):
    # Hyperplane LSH only groups HIGH-cosine pairs (a random pair agrees
    # with each plane w.p. 1-θ/π, so near-orthogonal neighbors rarely share
    # all sign bits): the honest quality claim is twin retrieval, not
    # mid-similarity recall — that regime is what ivf_topk is for.
    df, expected = planted_vecs
    corpus = df.filter(F.col("vec_id") < OFFSET)
    twins = df.filter(F.col("vec_id") >= OFFSET)
    got = S.lsh_topk(twins, corpus, k=1)
    top1 = {
        r["query_id"]: r["neighbor_id"] for r in got.filter(F.col("nn_rank") == 1).collect()
    }
    hits = sum(1 for qid, nid in top1.items() if qid - OFFSET == nid)
    assert hits / len(expected) >= 0.8


def test_ivf_topk_recall_vs_exact(ann_frames):
    emb, q, exact = ann_frames
    got = S.ivf_topk(q, emb, k=5, n_centroids=16, n_probe=4)
    assert _topk_recall(got, exact) >= 0.5


def test_dedup_keep_best_selects_longest_per_planted_cluster(spark):
    # Three planted near-dup clusters with different-length members plus
    # unrelated singletons: exactly one survivor per cluster, and it is the
    # longest member (tie broken by min id). Singletons all survive with
    # cluster_size 1.
    from duckdb_cloudflare_spark.operators.dedup import (
        dedup_keep_best,
        minhash_lsh_pairs,
    )

    bases = [
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while the sun sets slowly behind hills ",
        "a completely different tale of ships sailing across stormy seas "
        "carrying cargo between distant harbors under grey winter skies ",
        "yet another account concerning mountain climbers scaling granite "
        "walls with ropes and carabiners before the weather turns bad ",
    ]
    rows = []
    # cluster k: ids 10k..10k+2, member i appends i extra sentences
    for k in range(3):
        for i in range(3):
            rows.append(
                (10 * k + i, bases[k] * 3 + ("extra words here " * i))
            )
    # singletons: unrelated content
    rows.append((900, "completely different text about spark engines " * 4))
    rows.append((901, "unrelated musings on parquet file layouts " * 4))
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", __import__("pyspark.sql.functions", fromlist=["length"]).length("text").cast("long")
    )
    pairs = minhash_lsh_pairs(df, threshold=0.5)
    kept = dedup_keep_best(df, pairs, id_col="doc_id", score_col="n_chars")
    got = {r["doc_id"]: r["cluster_size"] for r in kept.collect()}
    # the longest member of each planted cluster is the i=2 doc
    assert {k for k in got if k < 900} == {2, 12, 22}
    assert all(got[k] == 3 for k in (2, 12, 22))
    assert got[900] == 1 and got[901] == 1


def test_brute_force_query_cap_raises(spark, monkeypatch):
    # Driver-OOM guard (ADVICE r3): an oversized queries side must fail
    # loudly as misuse, not collect unboundedly.
    monkeypatch.setenv("SPARK_GRAFT_BRUTE_MAX_QUERIES", "4")
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    with pytest.raises(ValueError, match="queries side exceeds 4 rows"):
        S.brute_force_topk(q, emb, k=2)


def test_brute_force_dim_mismatch_raises(spark):
    # A corpus vector of the wrong dimension is undefined under cosine and
    # must raise (ADVICE r3), not silently vanish from the result.
    q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="dimension"):
        S.brute_force_topk(q, corpus, k=1).collect()


def test_brute_force_null_corpus_id_never_ranked(spark):
    # A corpus row with a NULL id must not surface as a neighbor (it used
    # to come back as id -2**63 at nn_rank 1, being the query's exact copy).
    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(None, [1.0, 0.0]), (10, [0.9, 0.1]), (11, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = [(r["neighbor_id"], r["nn_rank"]) for r in S.brute_force_topk(q, corpus, k=2).collect()]
    assert sorted(got, key=lambda t: t[1]) == [(10, 1), (11, 2)]


def test_duplicated_ngram_fraction_planted(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),   # copy of 2
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "one two three four five six seven eight nine"),    # all unique
        (4, "too short"),                                       # < 5 tokens: excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.duplicated_ngram_stats(df, k=5).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["dup_frac"] == 1.0 and out[2]["dup_frac"] == 1.0
    assert out[3]["dup_frac"] == 0.0
    # 8 tokens, k=5 -> 4 shingles per doc
    assert out[1]["n_shingles"] == 4 and out[1]["n_dup"] == 4


def test_prefix_dup_groups_planted(spark):
    prefix = "the quick brown fox jumps over the lazy"
    rows = [
        (10, prefix + " dog and then some unique tail A"),
        (11, prefix.upper() + " cat with a different body entirely"),  # case-folded
        (12, "completely unrelated document body here with words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = D.prefix_dup_groups(df, k=8).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 10


def test_prefix_dup_groups_null_text_contract(spark):
    # Documented contract (ADVICE r10): >= 2 null-text docs form ONE group
    # under a NULL prefix_fp (nulls-are-mutual-dups), mirroring the DuckDB
    # oracle where md5(NULL) IS NULL and GROUP BY groups NULLs together.
    rows = [(1, None), (2, None), (3, "some unique body of text here ok")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = D.prefix_dup_groups(df, k=8).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["prefix_fp"] is None and g["n_docs"] == 2 and g["keep_id"] == 1


def test_dup_span_stats_planted(spark):
    # B embeds tokens t3..t10 of A: shared word-5-grams mark positions
    # 2..5 in A and 0..3 in B, each merging into ONE maximal span of 8
    # tokens. C shares nothing.
    a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    b = "t3 t4 t5 t6 t7 t8 t9 t10 u1 u2 u3"
    c = "c1 c2 c3 c4 c5 c6 c7 c8 c9"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.dup_span_stats(df, k=5).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == 8
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 8


def test_dup_span_stats_invariants_random_corpus(spark):
    # Seeded random corpus from a tiny vocab (forced shingle collisions):
    # spans must be well-formed — dup_tokens >= k per span-bearing doc,
    # bounded by the doc's token count, and n_spans * k <= dup_tokens is
    # impossible to violate only when spans are merged maximal (each span
    # covers >= k tokens, and merged spans cannot exceed doc length).
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_toks = {i: len(t.split()) for i, t in rows}
    out = D.dup_span_stats(df, k=5).collect()
    assert out, "tiny vocab must force cross-doc shingle collisions"
    for r in out:
        assert r["n_spans"] >= 1
        assert r["dup_tokens"] >= 5  # every span spans at least k tokens
        assert r["dup_tokens"] <= n_toks[r["doc_id"]]
        assert r["n_spans"] <= r["dup_tokens"] // 5 + 1


def test_exact_jaccard_singleton_prefilter_identical(spark):
    # Shingles in one doc can't form a pair: the prefiltered join must
    # return the IDENTICAL pair set (the 100 TB knob is output-invariant).
    from duckdb_cloudflare_spark.operators.dedup import exact_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a sleepy dog"),
            (3, "completely unrelated singleton shingle content here today"),
        ],
        "doc_id long, text string",
    )
    base = sorted(map(tuple, exact_jaccard_pairs(docs, threshold=0.1).collect()))
    pre = sorted(map(tuple, exact_jaccard_pairs(
        docs, threshold=0.1, prefilter_singletons=True
    ).collect()))
    assert base == pre and len(base) >= 1
