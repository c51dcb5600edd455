"""Training-data pipeline queries: dedup families, similarity search, text
analysis — the beyond-reference surface, declared as first-class ``queries()``
entries with DuckDB oracles wherever the semantics are SQL-expressible.

Queries whose candidate generation is probabilistic (LSH banding, hyperplane
sketches) register oracle=None — their correctness is pinned by pytest
(planted near-duplicates + recall vs the exact baseline) instead of the SQL
oracle, because an all-pairs oracle would not share the candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators import dedup as D
from duckdb_cloudflare_spark.operators import multimodal as M
from duckdb_cloudflare_spark.operators import similarity as S
from duckdb_cloudflare_spark.operators import text_analysis as T
from duckdb_cloudflare_spark.queries import load, register
from duckdb_cloudflare_spark.util.sizing import ensure_parallelism

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"


@register(
    "p01_dedup_exact",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS fp,
           min(doc_id) AS doc_id,
           count(*)    AS group_size
    FROM documents
    GROUP BY fp
    """,
    description="exact dedup: hash-groupBy on normalized-text fingerprint, keep min id",
)
def p01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no ensure_parallelism: md5+groupBy stay in codegen and the aggregation
    # shuffle already redistributes — an extra round-robin repartition of the
    # full text column would only add shuffle volume
    return D.exact_dedup(load(spark, sf_dir, "documents"))


@register(
    "p02_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)                              AS n_chars,
           CAST(len({_TOKENS_SQL}) AS BIGINT)                        AS n_tokens,
           CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])')) AS BIGINT)
                                                                     AS n_bpe_tokens,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                 / len({_TOKENS_SQL})                                AS avg_token_len,
           CAST(len(list_filter({_TOKENS_SQL},
                     tok -> list_contains(['the','and','of','to','in','is','it','that','was','for'],
                                          lower(tok)))) AS DOUBLE)
                 / len({_TOKENS_SQL})                                AS stopword_ratio
    FROM documents
    WHERE length(trim(text)) > 0
    """,
    description="token counting (whitespace + BPE-ish regex) and quality ratios",
)
def p02_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    toks = T.tokens(F.col("text"))
    n_tokens = F.size(toks).cast("bigint")
    en_stop = F.array(*[F.lit(s) for s in T.STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda tok: F.array_contains(en_stop, F.lower(tok))))
    return d.filter(n_tokens > 0).select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.size(T.bpe_ish_tokens(F.col("text"))).cast("bigint").alias("n_bpe_tokens"),
        (F.length(F.regexp_replace("text", r"\s", "")).cast("double") / n_tokens
         ).alias("avg_token_len"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
    )


@register(
    "p03_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fp
    FROM documents
    """,
    description="document fingerprinting: md5 of whitespace-normalized lowercased text",
)
def p03_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@register(
    "p04_lang_id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang AS lang_true,
               len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                   t -> list_contains(['the','and','of','to','in','is','it','that','was','for'], t))) AS en_hits,
               len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                   t -> list_contains(['el','la','de','que','y','en','un','los','se','por'], t))) AS es_hits,
               len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                   t -> list_contains(['le','la','de','et','les','des','un','une','du','est'], t))) AS fr_hits,
               len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                   t -> list_contains(['der','die','und','das','von','zu','den','mit','ist','im'], t))) AS de_hits,
               len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                   t -> list_contains(['的','是','了','在','和','有','我','不','这','他'], t))) AS zh_hits
        FROM documents
    )
    SELECT doc_id, lang_true,
           CASE WHEN coalesce(greatest(en_hits, es_hits, fr_hits, de_hits, zh_hits), 0) = 0 THEN 'und'
                WHEN de_hits = greatest(en_hits, es_hits, fr_hits, de_hits, zh_hits) THEN 'de'
                WHEN en_hits = greatest(en_hits, es_hits, fr_hits, de_hits, zh_hits) THEN 'en'
                WHEN es_hits = greatest(en_hits, es_hits, fr_hits, de_hits, zh_hits) THEN 'es'
                WHEN fr_hits = greatest(en_hits, es_hits, fr_hits, de_hits, zh_hits) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM scored
    """,
    description="language ID: stopword-hit argmax heuristic, deterministic "
    "lexicographic tie-break, 'und' when nothing matches",
)
def p04_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        T.identify_language(F.col("text")).alias("lang_pred"),
    )


@register(
    "p05_knn_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(
                 list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
                 6) AS cosine_sim
        FROM embeddings c JOIN q ON q.vec_id != c.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, nn_rank
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS nn_rank
        FROM scored
    ) WHERE nn_rank <= 5
    """,
    description="exact brute-force cosine top-k ANN baseline (broadcast queries, "
    "JVM-side zip_with dot product, per-query top-k window)",
)
def p05_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    return S.brute_force_topk(q, emb, k=5)


@register(
    "p06_minhash_pairs",
    oracle=None,  # LSH candidate generation is not SQL-expressible; pytest pins it
    description="MinHash+LSH near-dup pairs (shingle → 64-perm minhash → 16 bands "
    "→ bucket join → exact-Jaccard verify ≥ 0.5)",
)
def p06_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


@register(
    "p07_simhash_pairs",
    oracle=None,
    description="SimHash near-dup pairs (32-bit fingerprint, 4-block pigeonhole "
    "candidates, Hamming ≤ 3 verify)",
)
def p07_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(load(spark, sf_dir, "documents"))


@register(
    "p08_ngram_jaccard_pairs",
    oracle=None,
    description="character-5-gram Jaccard near-dup pairs with MinHash-LSH candidates",
)
def p08_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.6)


@register(
    "p09_embedding_neardup",
    oracle=None,
    description="embedding-cosine near-dup pairs via random-hyperplane sketch "
    "buckets. NOTE: the synthetic embeddings contain no near-duplicates (max "
    "pairwise cosine ~0.51 at sf0.01), so ZERO rows is the exact all-pairs "
    "answer on this testdata; recall on planted duplicates is pinned by "
    "tests/test_neardup_quality.py",
)
def p09_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_neardup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.9)


@register(
    "p10_lsh_topk",
    oracle=None,
    description="approximate ANN top-k via hyperplane LSH buckets with multi-probe",
)
def p10_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    return S.lsh_topk(q, emb, k=5)


@register(
    "p14_ivf_topk",
    oracle=None,  # IVF cell probing is approximate; pytest pins recall vs p05
    description="approximate ANN top-k via IVF: sample-fit k-means coarse quantizer, "
    "JVM-side cell assignment, n_probe nearest cells rescored exactly",
)
def p14_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    return S.ivf_topk(q, emb, k=5, n_centroids=16, n_probe=4)


@register(
    "p11_multimodal_meta",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/fimg'
                           WHEN 1 THEN 'audio/faud'
                           ELSE 'video/fvid' END AS mime,
           CASE doc_id % 3 WHEN 0 THEN CAST(64 + doc_id % 512 AS INTEGER)
                           WHEN 2 THEN 320 END AS width,
           CASE doc_id % 3 WHEN 0 THEN CAST(32 + doc_id % 256 AS INTEGER)
                           WHEN 2 THEN 240 END AS height,
           CASE doc_id % 3 WHEN 1 THEN CAST(8000 + 100 * (doc_id % 80) AS INTEGER) END
               AS sample_rate,
           CASE doc_id % 3
               WHEN 1 THEN 1000.0 * (1000 + doc_id % 9000) / (8000 + 100 * (doc_id % 80))
               WHEN 2 THEN 1000.0 * (5 + doc_id % 20) / (10 + doc_id % 20)
           END AS duration_ms
    FROM documents
    """,
    description="multimodal binary columns: synth asset (image/audio/video container) "
    "-> mapInPandas header decode -> typed metadata struct; oracle recomputes the "
    "closed-form dimensions without touching bytes (full encode/decode round-trip check)",
)
def p11_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single Python stage: synth + codec decode fused (the real workload's
    # shape — bytes originate storage-side, decode is the only Arrow hop;
    # see synth_assets_with_meta). The separate attach/with_asset_meta
    # operators stay composable and tested in tests/test_multimodal.py.
    d = ensure_parallelism(load(spark, sf_dir, "documents").select("doc_id", "text"))
    decoded = M.synth_assets_with_meta(d, keep=("doc_id",))
    return decoded.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


@register(
    "p12_frame_sample",
    oracle="""
    SELECT doc_id, CAST(unnest(range(0, 5 + doc_id % 20, 2)) AS INTEGER) AS frame_idx
    FROM documents
    WHERE doc_id % 3 = 2
    """,
    description="video frame sampling: every-2nd-frame map-side explode of FVID "
    "containers into one row per frame (1-in/N-out mapInPandas, no shuffle)",
)
def p12_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    frames = M.sample_video_frames(M.attach_fake_assets(d), every_n=2)
    return frames.select("doc_id", "frame_idx")


@register(
    "p13_image_features",
    # The synthetic image payload is the doc's UTF-8 text (ASCII corpus,
    # verified byte==char length) and the 64x64 resize is payload[:4096]
    # zero-padded (operators/multimodal.py::_resize_bytes), so the 16-bin
    # byte histogram IS SQL-expressible: per-char ascii()//16 counts, the
    # zero padding added to bin 0, normalized by 4096. Values are EXACT
    # unrounded k/4096 doubles (2^12 denominator — bit-identical across
    # engines; rounding to 6 would tie-break differently at k=32).
    # ASSUMPTIONS, enforced loudly: the oracle handles NULL text
    # (coalesce -> all-padding histogram, matching the Spark path) but
    # deliberately does NOT model the >= 4096-byte truncate/stride resize
    # or multi-byte text (ascii()//16 > 15 bins / byte != char). Either
    # would make the parity gate FAIL VISIBLY (bin mismatch / row-count
    # drift), never pass silently — current testdata: max 577 bytes, pure
    # ASCII, no NULLs (verified; re-check if TESTDATA regenerates).
    oracle="""
    WITH imgs AS (
        SELECT doc_id, text, coalesce(length(text), 0) AS L
        FROM documents WHERE doc_id % 3 = 0
    ), chars AS (
        SELECT doc_id, ascii(substr(text, CAST(i AS INTEGER), 1)) // 16 AS bin
        FROM imgs, unnest(range(1, L + 1)) AS t(i)
    ), counts AS (
        SELECT doc_id, bin, count(*) AS c FROM chars GROUP BY doc_id, bin
    ), grid AS (
        SELECT i.doc_id, i.L, b.bin
        FROM imgs i, (SELECT unnest(range(0, 16)) AS bin) b
    )
    SELECT g.doc_id, CAST(g.bin AS INTEGER) AS bin,
           (coalesce(c.c, 0)
            + CASE WHEN g.bin = 0 THEN 4096 - g.L ELSE 0 END) / 4096.0 AS value
    FROM grid g LEFT JOIN counts c
      ON c.doc_id = g.doc_id AND c.bin = g.bin
    """,
    description="image feature extraction: resize to 64x64 then 16-bin normalized "
    "byte histogram via Arrow-batched pandas UDF (vectorized numpy); exploded to "
    "(doc_id, bin, value) scalar rows. The full encode -> resize -> histogram "
    "byte path is hash-checked against a closed-form DuckDB oracle (the "
    "synthetic payload is reconstructible in SQL) — upgraded from rows-only.",
)
def p13_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 3 == 0
    )
    resized = M.resize_image(M.attach_fake_assets(d), 64, 64)
    feats = M.image_byte_histogram(resized, asset_col="resized")
    # One row per histogram bin: array columns are unhashable in the driver's
    # pandas-based canonicalizer, so emit the same information as scalars
    # (p33's proven shape). Map-side explode — no extra shuffle.
    return feats.select("doc_id", F.posexplode("features").alias("bin", "value"))


@register(
    "p15_quality_filter",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_nonpunct,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           CAST(n_chars - n_nonpunct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(n_alpha AS DOUBLE) / n_chars AS alpha_ratio
    FROM stats
    WHERE n_tokens >= 10
      AND n_chars >= 100
      AND CAST(n_chars - n_nonpunct AS DOUBLE) / n_chars < 0.10
      AND CAST(n_alpha AS DOUBLE) / n_chars > 0.60
    """,
    description="quality filtering: keep documents passing length / punctuation / "
    "alphabetic-ratio gates (the standard pretraining heuristic filter chain); "
    "map-only JVM expressions, no shuffle",
)
def p15_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t).cast("bigint")
    n_tokens = F.size(T.tokens(t)).cast("bigint")
    n_nonpunct = F.length(F.regexp_replace(t, r"[^\w\s]", "")).cast("bigint")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("bigint")
    punct_ratio = (n_chars - n_nonpunct).cast("double") / n_chars
    alpha_ratio = n_alpha.cast("double") / n_chars
    return (
        d.select(
            "doc_id",
            n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens"),
            punct_ratio.alias("punct_ratio"),
            alpha_ratio.alias("alpha_ratio"),
        )
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("n_chars") >= 100)
            & (punct_ratio < 0.10)
            & (alpha_ratio > 0.60)
        )
    )


@register(
    "p16_token_vocab",
    oracle=f"""
    SELECT tok, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
    FROM (
        SELECT doc_id, lower(unnest({_TOKENS_SQL})) AS tok
        FROM documents
    )
    GROUP BY tok
    HAVING count(*) >= 50
    """,
    description="corpus vocabulary: explode tokens -> (term frequency, document "
    "frequency) with a min-count gate — the explode+aggregate shape of BPE vocab "
    "building; partial aggregation collapses per-partition duplicates before the "
    "single shuffle",
)
def p16_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("t0")).select(
        "doc_id", F.lower("t0").alias("tok")
    )
    # Two plain aggregations instead of count+countDistinct in one: the mixed
    # form plans an Expand that doubles every exploded row through the
    # shuffle, while (tok, doc_id) -> tok composes two partial-aggregated
    # shuffles whose first collapses per-doc duplicates map-side (measured
    # ~18% faster at sf0.1, and the Expand row-doubling only grows with
    # corpus size).
    tf = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        tf.groupBy("tok")
        .agg(F.sum("c").alias("freq"), F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("freq") >= 50)
        .select("tok", "freq", "doc_freq")
    )


@register(
    "p17_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lower(unnest({_TOKENS_SQL})) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ), tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, rnk FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, tok) AS INTEGER) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
    description="TF-IDF term weighting: per-doc term frequency x ln(N/df), top-3 "
    "terms per document — token explode, two aggregations, broadcast-joined "
    "document frequencies, per-doc top-k window",
)
def p17_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from pyspark.sql.functions import broadcast

    raw = load(spark, sf_dir, "documents")
    # N as a 1-row aggregate cross-joined in (not a driver-side .count()):
    # keeps the whole query ONE job — the separate count action cost a full
    # scheduler round trip per execution.
    nd = raw.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    d = ensure_parallelism(raw)
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")).select(
        "doc_id", F.lower("tok").alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # tf has exactly one row per (doc_id, tok), so document frequency is a
    # plain count per token. A groupBy gets PARTIAL aggregation — a hot token
    # ("the" ≈ one row per document) collapses to one row per map task before
    # the shuffle — where a count() window over partitionBy("tok") would ship
    # every row of the hot token into a single task: the classic skew ceiling
    # at corpus scale. The small df relation then joins broadcast-side, so tf
    # itself is never reshuffled for the join.
    #
    # count(when(tf >= 1)) instead of count(*): referencing the tf column
    # blocks column pruning from rewriting this branch's inner aggregate to
    # a DISTINCT (which canonicalizes differently and defeats ReuseExchange,
    # leaving TWO explode+tokenize subtrees in the plan — the r3/r4 driver-
    # recorded p17 regressions). With the reference, both branches share one
    # exchange: plan-pinned to a single Generate in test_plans.py.
    df_rel = tf.groupBy("tok").agg(F.count(F.when(F.col("tf") >= 1, True)).alias("df"))
    scored = tf.join(broadcast(df_rel), "tok").crossJoin(broadcast(nd)).select(
        "doc_id",
        "tok",
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tfidf", "rnk")
    )


@register(
    "p18_stratified_downsample",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn % 4 = 1
    """,
    description="deterministic stratified downsampling: keep every 4th document "
    "per language stratum (ordered by id) — the reproducible variant of "
    "sampleBy for dataset balancing",
)
def p18_stratified_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") % 4 == 1)
        .select("doc_id", "lang")
    )


@register(
    "p19_train_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)
                     IN ('0','1','2','3','4','5','6','7','8','9','a','b','c')
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
    description="hash-based train/test split: md5(doc_id) last hex digit buckets "
    "13/16 train vs 3/16 test — deterministic, engine-independent, stable under "
    "re-runs and appends (the property random splits lack)",
)
def p19_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    train_digits = [str(c) for c in "0123456789abc"]
    return d.select(
        "doc_id",
        F.when(digit.isin(train_digits), "train").otherwise("test").alias("split"),
    )


@register(
    "p20_transitive_dedup",
    oracle=None,  # LSH candidate generation is probabilistic (p39 anchors CC)
    description="transitive dedup: connected components over the MinHash-LSH "
    "near-dup pair graph via alternating large-star/small-star rounds "
    "(Kiveris et al., SoCC'14 — O(log^2 n) rounds independent of graph "
    "diameter; no driver-side union-find), keeping one representative "
    "(min doc_id) per component; returns (doc_id, component, is_kept)",
)
def p20_transitive_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    # large-star/small-star: near-dup graphs of templated or serially-edited
    # docs can chain, and its round count does not grow with the diameter
    comp = D.connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") == F.col("component")).alias("is_kept"),
    ).orderBy("doc_id")


@register(
    "p21_repetition_scores",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
    ), flat AS (
        SELECT doc_id, unnest(t) AS tok FROM toks
    ), freq AS (
        SELECT doc_id, max(c) AS max_tok FROM (
            SELECT doc_id, tok, count(*) AS c FROM flat GROUP BY doc_id, tok
        ) GROUP BY doc_id
    )
    SELECT toks.doc_id,
           CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_token_ratio,
           1.0 - CAST(len(list_distinct(
                     list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
                                    p -> p[1] || ' ' || p[2]))) AS DOUBLE)
                     / (len(t) - 1) AS dup_bigram_fraction,
           CAST(freq.max_tok AS DOUBLE) / len(t) AS top_token_fraction
    FROM toks JOIN freq ON toks.doc_id = freq.doc_id
    WHERE len(t) > 1
    """,
    description="repetition quality scores (the Gopher-style repetition "
    "heuristics): distinct-token ratio, duplicated-bigram fraction, top-token "
    "frequency fraction — array ops stay map-side; the per-doc token "
    "frequency is a (doc_id, tok) groupBy with partial aggregation",
)
def p21_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    t = F.split(F.trim(F.col("text")), " ")
    base = d.select("doc_id", t.alias("t")).filter(F.size("t") > 1)
    bigrams = T.word_ngrams(F.col("t"), 2)
    ratios = base.select(
        "doc_id",
        F.col("t"),
        (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias(
            "distinct_token_ratio"
        ),
        (
            1.0 - F.size(F.array_distinct(bigrams)).cast("double") / (F.size("t") - 1)
        ).alias("dup_bigram_fraction"),
    )
    freq = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok"))
    )
    return (
        ratios.join(freq, "doc_id")
        .select(
            "doc_id",
            "distinct_token_ratio",
            "dup_bigram_fraction",
            (F.col("max_tok").cast("double") / F.size("t")).alias(
                "top_token_fraction"
            ),
        )
    )


@register(
    "p22_embedding_quantize",
    oracle="""
    SELECT vec_id,
           CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(q, 'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(q, 'max') AS BIGINT) AS q_max,
           round(sqrt(list_aggregate(
               list_transform(list_zip(x, q), p -> pow(p[1] - p[2] / 127.0, 2)),
               'sum')), 6) AS recon_err
    FROM (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS x,
               list_transform(CAST(embedding AS DOUBLE[]),
                   v -> greatest(-127.0, least(127.0, floor(v * 127 + 0.5)))) AS q
        FROM embeddings
    )
    """,
    description="int8 embedding quantization: symmetric scale to [-127,127] "
    "with floor(x*127+0.5) (identical on both engines — no rounding-mode "
    "dependence), plus reconstruction-error audit; map-only, summarized to "
    "scalars so the oracle hash is array-free",
)
def p22_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    q = F.transform(
        x, lambda v: F.greatest(F.lit(-127.0), F.least(F.lit(127.0), F.floor(v * 127 + 0.5)))
    )
    base = e.select("vec_id", x.alias("x"), q.alias("q"))
    err = F.aggregate(
        F.zip_with(F.col("x"), F.col("q"), lambda a, b: F.pow(a - b / 127.0, F.lit(2.0))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return base.select(
        "vec_id",
        F.aggregate(F.col("q"), F.lit(0.0), lambda a, v: a + v).cast("bigint").alias("q_sum"),
        F.array_min("q").cast("bigint").alias("q_min"),
        F.array_max("q").cast("bigint").alias("q_max"),
        F.round(F.sqrt(err), 6).alias("recon_err"),
    )


@register(
    "p23_pii_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               text || ' contact user' || doc_id || '@example.com or admin@test.org from '
                    || '10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS scrubbed
    FROM documents
    """,
    description="PII scrubbing (emails, IPv4) — the redaction pass of a "
    "training-data pipeline. The corpus is synthetic and PII-free, so "
    "deterministic PII is appended per doc before scrubbing: the regexes are "
    "genuinely exercised and the output still hash-verifies. Map-only, "
    "whole-stage codegen.",
)
def p23_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com or admin@test.org from "),
        F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(dirty, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
        r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "[IP]",
    )
    return d.select("doc_id", scrubbed.alias("scrubbed"))


@register(
    "p24_source_cap",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) WHERE rn <= 10
    """,
    description="per-domain quota: keep at most N docs per source, best-first "
    "(n_chars DESC, deterministic doc_id tiebreak) — the domain-cap stage of a "
    "crawl pipeline. rank<=N windows get Spark's WindowGroupLimit partial "
    "top-N push-down, so each mapper forwards at most N rows per source "
    "before the shuffle — a hot domain costs its cap, not its crawl volume.",
)
def p24_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@register(
    "p25_decontaminate",
    oracle="""
    WITH bench AS (
      SELECT doc_id AS bench_id, substr(text, 10, 40) AS snippet
      FROM documents
      WHERE doc_id % 97 = 0 AND length(substr(text, 10, 40)) >= 20
    ), corpus AS (
      SELECT c.doc_id,
             CASE WHEN c.doc_id % 13 = 0 AND i.snippet IS NOT NULL
                  THEN c.text || ' ' || i.snippet ELSE c.text END AS text
      FROM documents c
      LEFT JOIN bench i ON i.bench_id = ((c.doc_id % 3) + 1) * 97
      WHERE c.doc_id % 97 <> 0
    )
    SELECT c.doc_id FROM corpus c
    WHERE EXISTS (SELECT 1 FROM bench b WHERE instr(c.text, b.snippet) > 0)
    """,
    description="exact-substring decontamination: flag training docs that "
    "contain a verbatim snippet of any benchmark/eval item (here: a held-out "
    "pseudo-benchmark, doc_id %% 97 = 0, 40-char snippets). The synthetic "
    "corpus is clean, so contamination is first INJECTED deterministically "
    "(docs with doc_id %% 13 = 0 get a benchmark snippet appended) and then "
    "detected — the same seed-then-detect fixture pattern as p23. The "
    "benchmark side of real decontamination is tiny (thousands of items), so "
    "both the injection lookup and the detection semi-join BROADCAST it and "
    "the corpus streams through an instr() scan — no shuffle of the 100 TB "
    "side. For fuzzier overlap, escalate to the n-gram shingle joins "
    "(p06/p08) instead of widening the substring scan.",
)
def p25_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    d = load(spark, sf_dir, "documents")
    bench = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.substring("text", 10, 40).alias("snippet"),
        )
        .filter(F.length("snippet") >= 20)
    )
    inj = bench.select("bench_id", F.col("snippet").alias("inj_snippet"))
    corpus = (
        d.filter(F.col("doc_id") % 97 != 0)
        .join(broadcast(inj), F.col("bench_id") == (F.col("doc_id") % 3 + 1) * 97, "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 13 == 0) & F.col("inj_snippet").isNotNull(),
                F.concat(F.col("text"), F.lit(" "), F.col("inj_snippet")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return (
        corpus.join(
            broadcast(bench.select("snippet")),
            F.instr(F.col("text"), F.col("snippet")) > 0,
            "left_semi",
        )
        .select("doc_id")
    )


@register(
    "p26_sequence_pack",
    oracle="""
    SELECT doc_id, source,
           CAST((CAST(cum AS BIGINT) - n_chars) // 2048 AS BIGINT) AS seq_id,
           CAST((CAST(cum AS BIGINT) - n_chars) % 2048  AS BIGINT) AS seq_off
    FROM (
        SELECT doc_id, source, n_chars,
               sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents
    )
    """,
    description="sequence packing: stream docs (per source, doc_id order) into "
    "fixed 2048-char training sequences; each doc gets (seq_id, seq_off) from "
    "its running start offset — the streaming concat-then-cut packing used to "
    "fill fixed context windows, with docs straddling a boundary split across "
    "sequences. One per-source window cumsum, no global sort: at 100 TB the "
    "pack is computed shard-parallel exactly like this, and a hot source "
    "costs one partition's sort, not a cluster-wide ordering.",
)
def p26_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_chars").over(w) - F.col("n_chars")).cast("long")
    return d.select(
        "doc_id",
        "source",
        (start / F.lit(2048)).cast("long").alias("seq_id"),
        (start % F.lit(2048)).cast("long").alias("seq_off"),
    )


@register(
    "p27_chunk_windows",
    oracle="""
    SELECT doc_id,
           CAST(start // 384 AS BIGINT)                    AS chunk_idx,
           CAST(start AS BIGINT)                           AS start,
           CAST(least(512, n_chars - start) AS BIGINT)     AS chunk_len
    FROM (
        SELECT doc_id, n_chars, unnest(range(0, n_chars, 384)) AS start
        FROM documents
        WHERE n_chars > 0
    )
    """,
    description="context-window chunking: explode each document into 512-char "
    "windows with stride 384 (128-char overlap) — the chunking stage ahead of "
    "embedding/indexing. Map-side explode (sequence + posexplode), no shuffle; "
    "output is (doc_id, chunk_idx, start, chunk_len) so the downstream "
    "substring extraction can be fused into whatever consumes the chunks.",
)
def p27_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return d.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_chars") - 1, F.lit(384).cast("long"))
        ).alias("start"),
    ).select(
        "doc_id",
        (F.col("start") / F.lit(384)).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start"),
        F.least(F.lit(512).cast("long"), F.col("n_chars") - F.col("start")).alias("chunk_len"),
    )


@register(
    "p28_unigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lower(unnest({_TOKENS_SQL})) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ), vocab AS (
        SELECT tok, count(*) AS freq FROM toks GROUP BY tok
    ), tot AS (
        SELECT CAST(sum(freq) AS DOUBLE) AS total FROM vocab
    ), lp AS (
        SELECT tok,
               CAST(round(ln(CAST(freq AS DOUBLE) / total) * 1000000.0)
                    AS BIGINT) AS lp_micro
        FROM vocab CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(sum(lp_micro) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1000000.0) AS avg_logprob,
           count(*) AS n_tokens
    FROM toks JOIN lp USING (tok)
    GROUP BY doc_id
    """,
    description="unigram language-model scoring: corpus token frequencies -> "
    "per-doc mean log-probability — the cheap perplexity proxy used for "
    "quality filtering (low avg logprob = rare-token soup). Two bucketed "
    "shuffles (vocab build, per-doc mean); the corpus-total is a 1-row "
    "broadcast. The token->freq join is explode-heavy but hash-bucketed, the "
    "100 TB shape; a skewed token (e.g. 'the') is bounded by partial "
    "aggregation on the vocab side and never widens the doc-side rows. "
    "Determinism (r9 audit after p83's sf0.1 drift): the per-token "
    "logprob is canonicalized as an exact micro-unit bigint in the "
    "VOCAB-sized table (ln computed once per distinct token, not per "
    "instance), summed exactly per doc, emitted as ONE unrounded float "
    "division of exact-integer doubles (q48 rule).",
)
def p28_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")).select(
        "doc_id", F.lower("tok").alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    tot = vocab.agg(F.sum("freq").cast("double").alias("total"))
    lp = vocab.crossJoin(broadcast(tot)).select(
        "tok",
        F.round(F.log(F.col("freq").cast("double") / F.col("total")) * 1e6, 0)
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            (
                F.sum("lp_micro").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1e6))
            ).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@register(
    "p29_lang_quality_floor",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / length(text) AS ar
        FROM documents
        WHERE length(text) > 0
    ), m AS (
        SELECT lang, median(ar) AS med FROM s GROUP BY lang
    )
    SELECT doc_id, lang, ar AS alpha_ratio
    FROM s JOIN m USING (lang)
    WHERE ar >= med
    """,
    description="per-language quality floor: keep documents at/above their "
    "language's MEDIAN alphabetic ratio — per-group adaptive thresholds "
    "instead of one global gate (non-Latin scripts would fail a global "
    "alpha cutoff). One small aggregate (n_langs rows) broadcast back over "
    "the corpus: the 100 TB shape is a map-only rescan, no corpus shuffle. "
    "The ratio and the interpolated median are computed identically in both "
    "engines, so the >= comparison is deterministic.",
)
def p29_lang_quality_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ar = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.length("text")
    )
    s = d.select("doc_id", "lang", ar.alias("ar"))
    med = s.groupBy("lang").agg(F.median("ar").alias("med"))
    return (
        s.join(broadcast(med), "lang")
        .filter(F.col("ar") >= F.col("med"))
        .select("doc_id", "lang", F.col("ar").alias("alpha_ratio"))
    )


@register(
    "p30_dedup_keep_best",
    oracle=None,  # LSH candidate generation is probabilistic; pytest pins the
    # keep-best selection on planted clusters (test_neardup_quality)
    description="quality-aware canonical dedup: minhash near-dup pairs -> "
    "connected components -> keep the LONGEST member of each cluster (tie: "
    "min doc_id) instead of min-id — the curation deliverable of a dedup "
    "pass. Components run over the small pair set; the corpus only pays one "
    "id join plus a per-cluster top-1 window (WindowGroupLimit partial).",
)
def p30_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    kept = D.dedup_keep_best(docs, pairs, id_col="doc_id", score_col="n_chars")
    return kept.select("doc_id", "n_chars", "cluster_size")


_GRAMS5_SQL = (
    "CASE WHEN len({t}) >= 5 THEN list_distinct(list_transform("
    "range(1, len({t}) - 3), i -> array_to_string({t}[i:i+4], ' '))) "
    "WHEN len({t}) > 0 THEN [array_to_string({t}, ' ')] "
    "ELSE [] END"
)
_BENCH_TOKS_SQL = "string_split_regex(trim(bench_text), '\\s+')"
_BENCH_GRAMS_SQL = _GRAMS5_SQL.format(t=_BENCH_TOKS_SQL)
_CORPUS_GRAMS_SQL = _GRAMS5_SQL.format(t=_TOKENS_SQL)


@register(
    "p31_fuzzy_decontaminate",
    oracle=f"""
    WITH bench_docs AS (
        SELECT doc_id AS bench_id, text AS bench_text,
               substr(text, 10, 120) AS snippet
        FROM documents
        WHERE doc_id % 97 = 0 AND length(substr(text, 10, 120)) >= 60
    ), corpus AS (
        SELECT c.doc_id,
               CASE WHEN c.doc_id % 13 = 0 AND i.snippet IS NOT NULL
                    THEN c.text || ' ' || i.snippet ELSE c.text END AS text
        FROM documents c
        LEFT JOIN bench_docs i ON i.bench_id = ((c.doc_id % 3) + 1) * 97
        WHERE c.doc_id % 97 <> 0
    ), bgrams AS (
        SELECT DISTINCT unnest({_BENCH_GRAMS_SQL}) AS gram
        FROM bench_docs
    ), cgrams AS (
        SELECT doc_id, g AS grams, len(g) AS n
        FROM (SELECT doc_id,
                     {_CORPUS_GRAMS_SQL} AS g
              FROM corpus)
        WHERE len(g) > 0
    ), exploded AS (
        SELECT doc_id, n, unnest(grams) AS gram FROM cgrams
    )
    SELECT e.doc_id,
           CAST(count(*) AS DOUBLE) / n AS overlap_ratio
    FROM exploded e JOIN bgrams USING (gram)
    GROUP BY e.doc_id, n
    HAVING CAST(count(*) AS DOUBLE) / n >= 0.10
    """,
    description="fuzzy decontamination: flag training docs whose word-5-gram "
    "sets overlap any benchmark item's grams by >= 10% — the n-gram "
    "escalation beyond p25's exact-substring check (catches light edits and "
    "re-wrapped text). Contamination is INJECTED deterministically first "
    "(p25's seed-then-detect fixture). The benchmark gram set is tiny and "
    "BROADCAST; the corpus pays one map-side explode + a broadcast join + "
    "one aggregation — no corpus-vs-corpus expansion, the 100 TB shape.",
)
def p31_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    d = load(spark, sf_dir, "documents")
    bench = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.col("text").alias("bench_text"),
            F.substring("text", 10, 120).alias("snippet"),
        )
        .filter(F.length("snippet") >= 60)
    )
    inj = bench.select("bench_id", F.col("snippet").alias("inj_snippet"))
    corpus = (
        d.filter(F.col("doc_id") % 97 != 0)
        .join(broadcast(inj), F.col("bench_id") == (F.col("doc_id") % 3 + 1) * 97, "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 13 == 0) & F.col("inj_snippet").isNotNull(),
                F.concat(F.col("text"), F.lit(" "), F.col("inj_snippet")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    bgrams = (
        bench.select(F.explode(D.shingles(F.col("bench_text"), 5)).alias("gram"))
        .distinct()
    )
    cgrams = corpus.select(
        "doc_id", D.shingles(F.col("text"), 5).alias("grams")
    ).filter(F.size("grams") > 0)
    exploded = cgrams.select(
        "doc_id", F.size("grams").alias("n"), F.explode("grams").alias("gram")
    )
    m = (
        exploded.join(broadcast(bgrams), "gram")
        .groupBy("doc_id", "n")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        m.filter(F.col("m").cast("double") / F.col("n") >= 0.10)
        .select(
            "doc_id",
            (F.col("m").cast("double") / F.col("n")).alias("overlap_ratio"),
        )
    )


@register(
    "p32_corpus_mix",
    oracle="""
    SELECT doc_id, source, CAST(cum AS BIGINT) AS cum_chars
    FROM (
        SELECT doc_id, source, n_chars,
               sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents
    )
    WHERE CAST(cum AS BIGINT) - n_chars < 4000
    """,
    description="data-mixture sampling: truncate each source at a 4000-char "
    "budget — keep each source's docs (doc_id order) while the running "
    "char total is inside its share, the per-source budget stage of a "
    "training-mixture recipe. Same shard-parallel window cumsum as p26; "
    "a doc straddling the boundary is kept (pack-truncation semantics).",
)
def p32_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chars").over(w).cast("long")
    return (
        d.select("doc_id", "source", "n_chars", cum.alias("cum_chars"))
        .filter(F.col("cum_chars") - F.col("n_chars") < 4000)
        .select("doc_id", "source", "cum_chars")
    )


@register(
    "p33_label_centroids",
    oracle="""
    SELECT label,
           CAST(idx - 1 AS INTEGER) AS dim,
           round(avg(CAST(val AS DOUBLE)), 6) AS centroid
    FROM (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS idx,
               unnest(embedding) AS val
        FROM embeddings
    )
    GROUP BY label, dim
    """,
    description="per-label embedding centroids, exploded to (label, dim, "
    "centroid) rows: posexplode -> one partial-aggregated shuffle on "
    "(label, dim) — the class-centroid building block of IVF quantizers "
    "and embedding-space evals, with no array reassembly (the exploded "
    "shape hash-compares engine-independently and scales as a plain agg).",
)
def p33_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"))
    )


@register(
    "p34_exact_jaccard_pairs",
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
    -- same inverted-index formulation the Spark side uses (a pair appears
    -- iff it shares >= 1 shingle, which J >= 0.5 requires anyway), so the
    -- bench baseline comparison is algorithm-for-algorithm fair
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
    """,
    description="EXACT all-pairs word-3-shingle Jaccard >= 0.5 via a "
    "shingle-inverted-index join: distinct shingles exploded, equi-joined on "
    "shingle (id_a < id_b), pair co-occurrence counted in one partial-"
    "aggregated shuffle, unioned with per-doc set sizes. This is the exact-"
    "semantics anchor for the approximate near-dup family (p06-p08), the way "
    "p05 anchors p10/p14: the DuckDB oracle computes the same pairs from the "
    "same shingle sets, so similarity semantics themselves sit under the hash "
    "check. The Spark side joins on xxhash64(shingle) — 8-byte shuffle keys "
    "instead of strings, measured ~33% faster; a 64-bit collision would have "
    "to land inside one candidate doc pair to perturb a count, and the "
    "string-keyed oracle parity gate would catch exactly that. At 100 TB the "
    "inverted-index join's hot-shingle candidate blowup is exactly why the "
    "LSH variants exist; run THIS for verification slices, p06/p08 for the "
    "full corpus.",
)
def p34_exact_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_jaccard_pairs(load(spark, sf_dir, "documents"), k=3, threshold=0.5)


@register(
    "p35_exact_cosine_pairs",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))) AS c
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(c, 6) AS cosine_sim
    FROM scored WHERE c >= 0.4
    """,
    description="EXACT all-pairs embedding cosine >= 0.4 — the oracle-bearing "
    "exact anchor for the embedding near-dup/ANN family (p09/p10/p14), "
    "complementing p34's text-side anchor: cosine semantics themselves sit "
    "under the DuckDB hash check. Quadratic by definition (like p05's exact "
    "top-k baseline): pairwise join with the batched float64 einsum cosine "
    "UDF. Run THIS on verification slices; the hyperplane-bucketed variants "
    "are the corpus-scale path.",
)
def p35_exact_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    sim = D.cosine_similarity(F.col("ea"), F.col("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("c"))
        .filter(F.col("c") >= 0.4)
        .select("id_a", "id_b", F.round("c", 6).alias("cosine_sim"))
    )


@register(
    "p36_dup_ngram_fraction",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_transform(string_split_regex(trim(text), '\s+'),
                              x -> lower(x)) AS ts
        FROM documents
    ), shins AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ts) - 3),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
                        || ts[i+3] || ' ' || ts[i+4])) AS sh
        FROM toks WHERE len(ts) >= 5
    ), inv AS (SELECT doc_id, unnest(sh) AS shingle FROM shins),
    cnt AS (SELECT shingle, count(*) AS n_docs_with FROM inv GROUP BY shingle)
    SELECT doc_id,
           count(*)                    AS n_shingles,
           count(*) FILTER (n_docs_with >= 2) AS n_dup,
           CAST(count(*) FILTER (n_docs_with >= 2) AS DOUBLE)
                 / count(*)            AS dup_frac
    FROM inv JOIN cnt USING (shingle)
    GROUP BY doc_id
    """,
    description="exact-substring duplication metric (Lee et al. 2022): per "
    "doc, the fraction of its distinct word-5-shingles that occur in >= 1 "
    "other document — flags boilerplate/templated docs without ever "
    "materializing doc PAIRS. Inverted-index shape: explode distinct "
    "shingles, partial-aggregated per-shingle doc count, join back, per-doc "
    "aggregate. Two bucketed shuffles + one equi-join; scales linearly in "
    "corpus shingle mass where all-pairs Jaccard (p34) is quadratic.",
)
def p36_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.duplicated_ngram_stats(load(spark, sf_dir, "documents"), k=5)


@register(
    "p37_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lower(unnest({_TOKENS_SQL})) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ), vocab AS (
        SELECT tok, count(*) AS freq FROM toks GROUP BY tok
    ), tot AS (
        SELECT CAST(sum(freq) AS DOUBLE) AS total FROM vocab
    ), lp AS (
        SELECT tok,
               CAST(round(ln(CAST(freq AS DOUBLE) / total) * 1000000.0)
                    AS BIGINT) AS lp_micro
        FROM vocab CROSS JOIN tot
    ), scored AS (
        SELECT doc_id,
               CAST(sum(lp_micro) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 1000000.0) AS avg_logprob,
               CAST(floor(CAST(sum(lp_micro) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) AS BIGINT) AS sk
        FROM toks JOIN lp USING (tok)
        GROUP BY doc_id
    ), cuts AS (
        SELECT quantile_cont(sk, 1.0/3.0) AS c_lo,
               quantile_cont(sk, 2.0/3.0) AS c_hi
        FROM scored
    )
    SELECT doc_id, avg_logprob,
           CASE WHEN sk >= c_hi THEN 'head'
                WHEN sk >= c_lo THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM scored CROSS JOIN cuts
    """,
    description="CCNet-style perplexity bucketing: unigram-LM per-doc mean "
    "log-probability (p28's integer-exact scoring) split into head/middle/"
    "tail terciles — the standard quality partition ahead of mixture "
    "weighting. r9 reshape (VERDICT r8 item 5: the old global no-partition "
    "ntile is a corpus-wide single-partition sort at 100x, and ntile can't "
    "be group-limited at all): VALUE-based terciles — the two cutoffs come "
    "from exact percentile aggregates over the per-doc score (one pass, "
    "bounded agg state), broadcast as a 1-row table, labels applied "
    "map-side. Tie rule (documented, mirrored in the oracle): the bucket "
    "key sk = floor(mean micro-logprob) is an exact bigint (bit-identical "
    "cross-engine: floor of ONE IEEE division of exact-integer doubles — "
    "no round-half policy in play); docs with sk equal to a cutoff all go "
    "to the UPPER bucket. Integer keys make the >= comparison safe "
    "against ulp noise in the interpolated cutoffs: engines can differ "
    "only by ~1e-8 there, and sk values are >= 1 apart.",
)
def p37_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")).select(
        "doc_id", F.lower("tok").alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    tot = vocab.agg(F.sum("freq").cast("double").alias("total"))
    lp = vocab.crossJoin(broadcast(tot)).select(
        "tok",
        F.round(F.log(F.col("freq").cast("double") / F.col("total")) * 1e6, 0)
        .cast("long")
        .alias("lp_micro"),
    )
    sm = F.sum("lp_micro").cast("double")
    nt = F.count(F.lit(1)).cast("double")
    scored = (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            (sm / (nt * F.lit(1e6))).alias("avg_logprob"),
            F.floor(sm / nt).alias("sk"),
        )
    )
    cuts = scored.agg(
        F.percentile("sk", F.lit(1.0 / 3.0)).alias("c_lo"),
        F.percentile("sk", F.lit(2.0 / 3.0)).alias("c_hi"),
    )
    return scored.crossJoin(broadcast(cuts)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("sk") >= F.col("c_hi"), "head")
        .when(F.col("sk") >= F.col("c_lo"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


@register(
    "p38_boilerplate_prefix",
    oracle=r"""
    WITH p AS (
        SELECT doc_id,
               md5(array_to_string(
                   (string_split_regex(trim(lower(text)), '\s+'))[1:8], ' '))
                   AS prefix_fp
        FROM documents
    )
    SELECT prefix_fp, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM p GROUP BY prefix_fp HAVING count(*) >= 2
    """,
    description="boilerplate-prefix families: documents sharing an identical "
    "normalized first-8-token prefix, groups of >= 2 — catches header/"
    "template duplication that exact dedup (bodies differ) and LSH (overall "
    "similarity low) both miss. One shuffle on the 16-byte md5(prefix) "
    "fingerprint; text never shuffles.",
)
def p38_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.prefix_dup_groups(load(spark, sf_dir, "documents"), k=8)
