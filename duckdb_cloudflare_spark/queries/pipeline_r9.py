"""r9 pipeline operators — the round-9 additions to the LLM-data-pipeline
surface, every one oracle-bearing:

- p85: corpus-composition Shannon entropy / effective-source count — the
  mixture-diversity audit (DoReMi / Pile composition tables).
- p86: DSIR importance RESAMPLE — completes the p83 scoring with the
  actual weighted without-replacement draw (Xie et al. 2023 §2.3),
  composed from the p80 Efraimidis–Spirakis machinery.
- p87: exact shingle CONTAINMENT pairs — the asymmetric quote/subset
  duplication metric Jaccard (p34) structurally misses (Broder '97).
- p88: duplicate-cluster size histogram — the dedup report (Lee et al.
  2022 Table 2's shape) quantifying what exact dedup would remove.
- p89: per-document character-level entropy — the gibberish/binary-spill
  quality feature next to the word-level Gopher rules.
- p90: embedding L2-norm health report — the magnitude QA gate before
  vectors feed ANN/clustering (complementing p75's direction audit).

All six follow the repo's determinism conventions: exact-integer
canonicalization for order-dependent float folds (p79/p83's micro-unit
bigints), unrounded single exact-integer divisions (q48 rule), rounded
transcendental endpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators import dedup as D
from duckdb_cloudflare_spark.operators import text_analysis as T
from duckdb_cloudflare_spark.queries import load, register
from duckdb_cloudflare_spark.util.sizing import ensure_parallelism


@register(
    "p85_source_mix_entropy",
    oracle="""
    WITH c AS (
        SELECT source, count(*) AS cnt FROM documents
        WHERE source IS NOT NULL GROUP BY source
    ), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
    per AS (
        SELECT cnt, total,
               CAST(round((CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                          * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                          * 1000000000.0) AS BIGINT) AS t_nano,
               CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM c CROSS JOIN t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           first(total) AS n_docs,
           CAST(-sum(t_nano) AS DOUBLE) / 1000000000.0 AS entropy,
           round(exp(CAST(-sum(t_nano) AS DOUBLE) / 1000000000.0), 6)
               AS effective_sources,
           max(share) AS max_share
    FROM per
    """,
    description="Corpus-composition diversity audit: Shannon entropy of "
    "the source-share mix (nats), effective source count exp(H), heaviest "
    "share — the single-row report data-mixing runs publish (DoReMi / "
    "Pile composition tables). operators/curation.py::source_mix_entropy. "
    "Determinism: shares are exact integer divisions; each p*ln(p) term "
    "is an exact nano-unit bigint (p79/p83 fold convention) so the "
    "entropy sum is order-free; exp(H) rounded 6 dp (transcendental "
    "endpoint). Scale: one source-keyed partial-agg shuffle, 1-row fold.",
)
def p85_source_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.curation import source_mix_entropy

    return source_mix_entropy(load(spark, sf_dir, "documents"), "source")


@register(
    "p86_dsir_resample",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS t,
               CAST(('0x' || substr(md5(lower(unnest(
                   string_split_regex(trim(text), '\s+')))), 1, 8))
                   AS BIGINT) % 1024 AS bucket
        FROM documents
        WHERE length(trim(text)) > 0
    ), b AS (
        SELECT bucket, count(*) AS raw_n,
               count(CASE WHEN t THEN 1 END) AS tgt_n
        FROM toks GROUP BY bucket
    ), tt AS (
        SELECT CAST(sum(raw_n) AS DOUBLE) AS raw_total,
               CAST(sum(tgt_n) AS DOUBLE) AS tgt_total
        FROM b
    ), lr AS (
        SELECT bucket,
               CAST(round(ln(((tgt_n + 1) / (tgt_total + 1024))
                             / ((raw_n + 1) / (raw_total + 1024)))
                          * 1000000.0) AS BIGINT) AS lr_micro
        FROM b, tt
    ), w AS (
        SELECT doc_id,
               CAST(sum(lr_micro) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 1000000.0) AS dsir_weight
        FROM toks JOIN lr USING (bucket)
        GROUP BY doc_id
    ), pr AS (
        SELECT doc_id, dsir_weight,
               ln((('0x' || substr(md5('dsir:' || doc_id), 1, 15))::BIGINT + 1)
                  / 1152921504606846976.0)
                   / exp(dsir_weight / 1.0) AS key
        FROM w WHERE doc_id IS NOT NULL
    )
    SELECT doc_id, dsir_weight, round(key, 6) AS priority
    FROM pr ORDER BY key DESC, doc_id LIMIT 50
    """,
    description="DSIR importance RESAMPLE (Xie et al. 2023 §2.3) — the "
    "second half of p83: deterministic Efraimidis-Spirakis weighted "
    "sample-without-replacement of 50 docs with inclusion probability "
    "proportional to exp(dsir_weight / T), materializing the target-"
    "shaped training subset. operators/text_analysis.py::dsir_resample "
    "(p83 scoring + p80 sampling machinery; selection on the UNROUNDED "
    "key, priority emitted 6 dp — the p80 conventions). Scale: p83's "
    "passes + map-side key + distributed top-k (TakeOrdered) — the "
    "resample adds zero corpus shuffles.",
)
def p86_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return T.dsir_resample(
        d, target=F.col("lang") == F.lit("en"), k=50, temperature=1.0
    )


@register(
    "p87_shingle_containment",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_transform(string_split_regex(trim(text), '\s+'),
                              x -> lower(x)) AS ts
        FROM documents
    ), shins AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ts) - 1),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
        FROM toks WHERE len(ts) >= 3
    ), sizes AS (SELECT doc_id, len(sh) AS n FROM shins),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM shins),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / sa.n AS containment_a,
           CAST(i AS DOUBLE) / sb.n AS containment_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(CAST(i AS DOUBLE) / sa.n, CAST(i AS DOUBLE) / sb.n) >= 0.8
    """,
    description="EXACT all-pairs word-3-shingle CONTAINMENT >= 0.8 — the "
    "asymmetric near-dup metric p34's Jaccard structurally misses: a doc "
    "quoted whole inside a longer one has containment ~1 but Jaccard "
    "~|A|/|B| (Broder '97's resemblance-vs-containment split). Catches "
    "quote/subset/template duplication. operators/dedup.py::"
    "containment_pairs — p34's inverted-index engine (xxhash64 8-byte "
    "keys, shuffle_hash, sizes carried on exploded rows, one partial-agg "
    "pair shuffle), different final metric; both containments are "
    "unrounded exact integer divisions (q48 rule). Same quadratic-by-"
    "design verification-slice contract as p34; the LSH family is the "
    "full-corpus path.",
)
def p87_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.containment_pairs(
        load(spark, sf_dir, "documents"), k=3, threshold=0.8
    )


@register(
    "p88_dup_cluster_histogram",
    oracle=f"""
    WITH f AS (
        SELECT md5({{norm}}) AS fp FROM documents WHERE doc_id IS NOT NULL
    ), s AS (SELECT fp, count(*) AS m FROM f GROUP BY fp)
    SELECT m AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(m * count(*) AS BIGINT) AS n_docs,
           CAST((m - 1) * count(*) AS BIGINT) AS excess_docs
    FROM s GROUP BY m
    """.format(norm="trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"),
    description="Duplicate-cluster size distribution — the dedup REPORT "
    "published before deleting anything (Lee et al. 2022 quantify the "
    "dedup win with exactly this table): per exact-dup cluster size m "
    "(p01's md5-of-normalized-text fingerprint), the cluster count, the "
    "documents they hold, and the EXCESS copies exact dedup would drop. "
    "operators/dedup.py::dup_cluster_histogram. All-integer output. "
    "Scale: one uniform fingerprint shuffle (partial-agg) then one tiny "
    "shuffle on the size value (O(log corpus) distinct sizes).",
)
def p88_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dup_cluster_histogram(load(spark, sf_dir, "documents"))


@register(
    "p89_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents WHERE text IS NOT NULL
    ), cc AS (
        SELECT doc_id, ch, count(*) AS c
        FROM ch WHERE length(ch) > 0 GROUP BY doc_id, ch
    ), t AS (
        SELECT doc_id, c,
               CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                          * 1000000.0) AS BIGINT) AS tm
        FROM cc
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars_counted,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - CAST(sum(tm) AS DOUBLE)
                   / (CAST(sum(c) AS DOUBLE) * 1000000.0), 6) + 0.0
               AS char_entropy
    FROM t GROUP BY doc_id
    """,
    description="Per-document character-level Shannon entropy (nats) — "
    "the gibberish/binary-spill/repeated-filler quality feature C4- and "
    "Gopher-style filters run alongside the word-level rules (near-zero = "
    "one repeated char; ~4.5 = uniform printable noise). operators/"
    "text_analysis.py::char_entropy — H = ln(n) - (sum c*ln c)/n with "
    "each c*ln c term an exact micro-unit bigint (order-free fold, the "
    "p79/p83 convention), final 6-dp round. Scale: one char explode into "
    "a (doc, char)-keyed partial-agg shuffle (alphabet-bounded rows per "
    "doc survive the map side), one doc-keyed fold — linear, no joins.",
)
def p89_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    return T.char_entropy(d)


@register(
    "p90_embedding_norm_qa",
    oracle="""
    WITH v AS (
        SELECT label,
               CAST(round(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))
                          * 1000000.0) AS BIGINT) AS nm
        FROM embeddings WHERE vec_id IS NOT NULL
    ), a AS (
        SELECT label, count(*) AS n, sum(nm) AS s,
               sum(CAST(nm AS HUGEINT) * nm) AS ss
        FROM v GROUP BY label
    ), st AS (
        SELECT label, n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_nm,
               sqrt(greatest(
                   CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std_nm
        FROM a
    )
    SELECT v.label AS cluster,
           CAST(first(n) AS BIGINT) AS n_vectors,
           first(mean_nm) / 1000000.0 AS mean_norm2,
           first(std_nm) / 1000000.0 AS std_norm2,
           CAST(min(nm) AS DOUBLE) / 1000000.0 AS min_norm2,
           CAST(max(nm) AS DOUBLE) / 1000000.0 AS max_norm2,
           CAST(count(CASE WHEN nm < mean_nm - 2.0 * std_nm
                             OR nm > mean_nm + 2.0 * std_nm
                      THEN 1 END) AS BIGINT) AS n_outliers
    FROM v JOIN st USING (label) GROUP BY v.label
    """,
    description="Embedding L2-norm health report per cluster — the "
    "MAGNITUDE QA gate before vectors feed ANN/clustering (zero vectors = "
    "encoder failures, exploding norms = un-normalized/wrong-modality "
    "rows), complementing p75's centroid-cosine DIRECTION audit: n, "
    "mean/std/min/max of norm-squared, and the count past mean +/- 2 std. "
    "operators/similarity.py::embedding_norm_qa — per-row norm-squared "
    "canonicalized as an exact micro-unit bigint (the p35/p82 left-to-"
    "right array-fold idiom), group sums exact integers, mean/var/std "
    "derived through a FIXED explicit op sequence (never engine-native "
    "stddev, whose summation order is free). Scale: map-side fold + one "
    "group-keyed partial-agg shuffle; vectors never shuffle.",
)
def p90_embedding_norm_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.similarity import embedding_norm_qa

    e = load(spark, sf_dir, "embeddings")
    return embedding_norm_qa(
        e, vec_col="embedding", id_col="vec_id", cluster_col="label", sigma=2.0
    )
