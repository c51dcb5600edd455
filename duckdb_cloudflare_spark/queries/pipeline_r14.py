"""r14 operators — the two dialect surfaces the r13 verdict named
(SIMILAR TO, GROUPS frames) exercised as graded queries, plus product
quantization (closing the vector-compression family p115/p116 opened)
and two curation-order operators:

- q68: SIMILAR TO through duck_sql. DuckDB's SIMILAR TO is
  regexp_full_match (plain regex, implicitly anchored, %/_ NOT
  wildcards — pinned empirically in compat.rewrite_similar_to); the
  oracle runs DuckDB's NATIVE operator against Spark's anchored-RLIKE
  rewrite.
- q69: a GROUPS window frame through duck_sql's dense_rank+RANGE
  auto-rewrite. This environment's DuckDB (1.0.0) rejects GROUPS mode
  outright, so the oracle is the EXPLICIT recipe — the same semantics
  the rewrite emits, independently executed (the tie cases are what
  distinguish GROUPS from ROWS/RANGE; tests pin a hand-computed case).
- p120/p121: PQ codebook training + encode/distortion audit (Jégou et
  al. 2011; FAISS PQ). The oracle unrolls both Lloyd steps as CTEs over
  the same micro-int encoding (the p45/p65 unrolled-iteration
  precedent); everything graded is exact bigints.
- p122: per-source character-class (script) composition — the
  mixed-script / junk-encoding sweep before language ID.
- p123: deterministic weighted source interleaving — the training-order
  stream, hash-priority form (NO per-source rank window: that design
  puts a source's whole slice in one task at 100 TB).

Reference parity note: the reference engine (a per-request federation
extension, src/common_crawl_index.cpp) has no vector or curation
surface; q68 mirrors its SIMILAR-TO-as-dialect acceptance
(src/internet_archive.cpp:704-721 translates such patterns for the CDX
filter path — our scan pushdown covers that half via url_regex=).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from duckdb_cloudflare_spark.queries import load, register
from duckdb_cloudflare_spark.util.sizing import ensure_parallelism

_SIM_PAT = ".*(green|olive).*"


@register(
    "q68_similar_to_brands",
    oracle=f"""
    SELECT p_brand,
           CAST(count(*) FILTER (WHERE p_name SIMILAR TO '{_SIM_PAT}')
                AS BIGINT) AS n_match,
           CAST(count(*) FILTER (WHERE p_name NOT SIMILAR TO '{_SIM_PAT}')
                AS BIGINT) AS n_not
    FROM part GROUP BY p_brand
    """,
    description="SIMILAR TO / NOT SIMILAR TO as SQL dialect (r13 verdict "
    "item 3): per-brand part counts matching a full-string regex. The "
    "oracle runs DuckDB's NATIVE SIMILAR TO (regexp_full_match — plain "
    "regex, implicitly anchored, %/_ NOT wildcards, pinned empirically); "
    "Spark runs compat.rewrite_similar_to's anchored RLIKE '^(?:pat)$' "
    "through duck_sql — the IDENTICAL statement text on both engines. "
    "The reference accepts SIMILAR TO on its scan columns and translates "
    "it into anchored CDX regex filters at the pushdown layer "
    "(src/internet_archive.cpp:704-721); that half is covered by "
    "url_regex= (golden-URL pytest). Scale shape: map-side regex + ONE "
    "partial-aggregated groupBy to |brands| rows.",
)
def q68_similar_to_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.compat import duck_sql

    load(spark, sf_dir, "part").createOrReplaceTempView("__q68_part")
    return duck_sql(
        spark,
        f"""
        SELECT p_brand,
               CAST(count(*) FILTER (WHERE p_name SIMILAR TO '{_SIM_PAT}')
                    AS BIGINT) AS n_match,
               CAST(count(*) FILTER (WHERE p_name NOT SIMILAR TO '{_SIM_PAT}')
                    AS BIGINT) AS n_not
        FROM __q68_part GROUP BY p_brand
        """,
    )


@register(
    "q69_groups_frame_window",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           round(CAST(sum(o_totalprice) OVER (
               PARTITION BY o_orderpriority ORDER BY rk
               RANGE BETWEEN 1 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS win_price
    FROM (SELECT *, dense_rank() OVER (
              PARTITION BY o_orderpriority ORDER BY o_orderdate) AS rk
          FROM orders)
    """,
    description="SQL:2011 GROUPS window frame through duck_sql (r13 "
    "verdict item 4): per-priority running order value over ORDER-DATE "
    "PEER GROUPS — with many orders per date, GROUPS differs from both "
    "ROWS (counts rows) and RANGE (counts date distance). Spark runs "
    "compat.rewrite_groups_frames' dense_rank+RANGE auto-rewrite; the "
    "oracle is the EXPLICIT recipe because this environment's DuckDB "
    "(1.0.0) rejects GROUPS mode outright ('not implemented yet') — "
    "same semantics, independently executed; a hand-computed tie case "
    "is pinned in tests/test_compat.py. Determinism: o_totalprice is "
    "DOUBLE in the test tables, so the window sum carries last-ulp "
    "summation-order noise (measured ~5e-10 on ~1e6 sums); the 2-dp "
    "round buries it EXACTLY — the true sums sit at 2-dp money points, "
    "never near a rounding half, so Spark's HALF_UP and DuckDB's rint "
    "agree bit-for-bit (the q48 trap is unreachable by construction). "
    "Scale shape: the rewrite adds ONE extra window column over the "
    "same (priority, date) partitioning — two windows sharing one "
    "shuffle, no joins.",
)
def q69_groups_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.compat import duck_sql

    load(spark, sf_dir, "orders").createOrReplaceTempView("__q69_orders")
    return duck_sql(
        spark,
        """
        SELECT o_orderkey, o_orderdate,
               round(CAST(sum(o_totalprice) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_orderdate
                   GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW
               ) AS DOUBLE), 2) AS win_price
        FROM __q69_orders
        """,
    )


# the PQ CTE chain shared by p120 (codebook) and p121 (assignment):
# micro-int vectors; k=8 seeds by md5 order; two unrolled Lloyd steps
# with (dist, cid) tie-break and empty-cluster carry-over via LEFT JOIN
# + COALESCE — the exact algorithm operators/similarity.py::_pq_fit runs.
_PQ_CTES = """
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, e ->
                   CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)
               ) AS xm
        FROM embeddings
        WHERE vec_id IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding, e -> e IS NULL)) = 0
    ), seeds AS (
        SELECT xm, cid FROM (
            SELECT xm, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                               1, 8)) AS BIGINT), vec_id) - 1 AS cid
            FROM base
        ) WHERE cid < 8
    ), el AS (
        SELECT vec_id,
               CAST((i - 1) // 16 AS INT) AS subspace,
               CAST((i - 1) % 16 AS INT) AS j,
               xm[i] AS x
        FROM (SELECT vec_id, xm,
                     unnest(generate_series(1, 64)) AS i FROM base)
    ), c0 AS (
        SELECT g.subspace, s.cid, g.j,
               s.xm[g.subspace * 16 + g.j + 1] AS c
        FROM (SELECT a.s AS subspace, b.j
              FROM (SELECT unnest(generate_series(0, 3)) AS s) a,
                   (SELECT unnest(generate_series(0, 15)) AS j) b) g,
             seeds s
    ), a1 AS (
        SELECT vec_id, subspace, cid FROM (
            SELECT e.vec_id, e.subspace, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, e.subspace
                       ORDER BY sum((e.x - c.c) * (e.x - c.c)), c.cid
                   ) AS rn
            FROM el e JOIN c0 c ON c.subspace = e.subspace AND c.j = e.j
            GROUP BY e.vec_id, e.subspace, c.cid
        ) WHERE rn = 1
    ), m1 AS (
        SELECT c0.subspace, c0.cid, c0.j,
               COALESCE(CAST(floor(CAST(s.sx AS DOUBLE) / s.n) AS BIGINT),
                        c0.c) AS c
        FROM c0 LEFT JOIN (
            SELECT a.subspace, a.cid, e.j,
                   sum(e.x) AS sx, count(*) AS n
            FROM a1 a
            JOIN el e ON e.vec_id = a.vec_id AND e.subspace = a.subspace
            GROUP BY a.subspace, a.cid, e.j
        ) s ON s.subspace = c0.subspace AND s.cid = c0.cid AND s.j = c0.j
    ), a2 AS (
        SELECT vec_id, subspace, cid FROM (
            SELECT e.vec_id, e.subspace, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, e.subspace
                       ORDER BY sum((e.x - c.c) * (e.x - c.c)), c.cid
                   ) AS rn
            FROM el e JOIN m1 c ON c.subspace = e.subspace AND c.j = e.j
            GROUP BY e.vec_id, e.subspace, c.cid
        ) WHERE rn = 1
    ), m2 AS (
        SELECT m1.subspace, m1.cid, m1.j,
               COALESCE(CAST(floor(CAST(s.sx AS DOUBLE) / s.n) AS BIGINT),
                        m1.c) AS c
        FROM m1 LEFT JOIN (
            SELECT a.subspace, a.cid, e.j,
                   sum(e.x) AS sx, count(*) AS n
            FROM a2 a
            JOIN el e ON e.vec_id = a.vec_id AND e.subspace = a.subspace
            GROUP BY a.subspace, a.cid, e.j
        ) s ON s.subspace = m1.subspace AND s.cid = m1.cid AND s.j = m1.j
    )
"""


@register(
    "p120_pq_codebooks",
    oracle=_PQ_CTES
    + """
    SELECT CAST(subspace AS INT) AS subspace, CAST(cid AS INT) AS cid,
           CAST(j AS INT) AS j, CAST(c AS BIGINT) AS c_micro
    FROM m2
    """,
    description="Product-quantization codebook trainer (Jégou et al. "
    "2011; FAISS PQ): 64 dims split into m=4 subspaces of 16, k=8 "
    "centroids per subspace, 2 Lloyd steps — m*log2(k)=12 bits per "
    "vector, the memory-scale path past SQ8/p115 for holding 100 TB of "
    "vector CODES in serving RAM. operators/similarity.py::pq_train. "
    "Determinism: micro-int canonicalization first (p116 idiom); seeds "
    "= k smallest first-8-hex-md5(vec_id) (no RNG); exact bigint "
    "distances; (dist, cid) lexicographic ties; centroids floor(sum/"
    "count) — floor of ONE exact-int double division, never round() "
    "(q48 trap); empty clusters carry the previous centroid on both "
    "engines. Scale shape: the codebook is m*k*sub_dims=512 rows by "
    "construction — it lives driver-side between Lloyd steps (bounded-"
    "by-contract collects, the bigram-model class); each step is ONE "
    "corpus map pass (ONE Arrow-batched int64 numpy argmin per batch "
    "against the closure-held codebook — the HOF-fold form measured "
    "7.7 s at sf0.1, interpreted outside codegen, and was rewritten "
    "per the repo's measured-UDF policy; zero joins) + ONE partial-agg "
    "shuffle bounded at 512 reduce keys; vectors never shuffle. The "
    "oracle unrolls both steps as CTEs over the identical encoding "
    "(p65 precedent).",
)
def p120_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.similarity import pq_train

    return pq_train(
        ensure_parallelism(load(spark, sf_dir, "embeddings")),
        m=4, sub_dims=16, k=8, n_iters=2,
    )


@register(
    "p121_pq_assign",
    oracle=_PQ_CTES
    + """
    SELECT vec_id, CAST(subspace AS INT) AS subspace,
           CAST(cid AS INT) AS cid,
           CAST(dist AS BIGINT) AS sq_err_micro2
    FROM (
        SELECT e.vec_id, e.subspace, c.cid,
               sum((e.x - c.c) * (e.x - c.c)) AS dist,
               row_number() OVER (
                   PARTITION BY e.vec_id, e.subspace
                   ORDER BY sum((e.x - c.c) * (e.x - c.c)), c.cid
               ) AS rn
        FROM el e JOIN m2 c ON c.subspace = e.subspace AND c.j = e.j
        GROUP BY e.vec_id, e.subspace, c.cid
    ) WHERE rn = 1
    """,
    description="PQ encode + distortion audit: every vector's nearest "
    "final centroid per subspace and the EXACT bigint squared L2 "
    "distance in micro-squared units — the per-subspace distortion "
    "FAISS reports after PQ training, and the SQ8-vs-PQ decision input "
    "next to p115's mse. operators/similarity.py::pq_assign. Scale "
    "shape: after the bounded codebook fit the encode pass is MAP-ONLY "
    "(ONE Arrow-batched numpy argmin per batch + an m-element explode "
    "— zero joins, zero shuffles; nothing crosses the wire at any "
    "corpus size; the interpreted HOF-fold form measured 13.1 s at "
    "sf0.1 and was rewritten per the measured-UDF policy). "
    "Determinism: identical to p120 (np.argmin first-min == the "
    "(dist, cid) tie-break).",
)
def p121_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.similarity import pq_assign

    return pq_assign(
        ensure_parallelism(load(spark, sf_dir, "embeddings")),
        m=4, sub_dims=16, k=8, n_iters=2,
    )


@register(
    "p122_script_profile",
    oracle=r"""
    WITH per AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS n,
               CAST(length(text)
                    - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                    AS BIGINT) AS l,
               CAST(length(text)
                    - length(regexp_replace(text, '[0-9]', '', 'g'))
                    AS BIGINT) AS d,
               CAST(length(text)
                    - length(regexp_replace(text, '[ \t\n\r]', '', 'g'))
                    AS BIGINT) AS w
        FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(l) AS BIGINT) AS latin_chars,
           CAST(sum(d) AS BIGINT) AS digit_chars,
           CAST(sum(w) AS BIGINT) AS ws_chars,
           CAST(sum(n - l - d - w) AS BIGINT) AS other_chars,
           CAST(sum(l) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS latin_ratio
    FROM per GROUP BY source
    """,
    description="Character-class (script) composition per source — the "
    "mixed-script / junk-encoding sweep a multilingual pipeline runs "
    "BEFORE language ID (mojibake, zero-width spam and digit walls "
    "surface as anomalous class ratios). Latin / digit / ASCII-ws / "
    "other counts via length-minus-replaced (codegen string ops, no "
    "tokenization); rolled up per source. operators/text_analysis.py::"
    "script_profile. Determinism: exact bigint counts (the oracle "
    "passes DuckDB's 'g' replace-all flag); latin_ratio is ONE "
    "unrounded exact-int division (q48 rule). Scale shape: map-side "
    "counts + ONE partial-aggregated source-keyed fold to |sources| "
    "rows.",
)
def p122_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.text_analysis import script_profile

    return script_profile(load(spark, sf_dir, "documents"))


@register(
    "p123_source_interleave",
    oracle="""
    WITH per AS (
        SELECT source, count(*) AS n_docs
        FROM documents WHERE doc_id IS NOT NULL GROUP BY source
    ), mn AS (
        SELECT min(sqrt(CAST(n_docs AS DOUBLE))) AS min_w FROM per
    ), rates AS (
        SELECT source, mn.min_w / sqrt(CAST(n_docs AS DOUBLE)) AS r
        FROM per, mn
    ), prios AS (
        SELECT d.doc_id, d.source,
               (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) / 4294967296.0) / rates.r AS prio
        FROM documents d JOIN rates ON rates.source = d.source
        WHERE d.doc_id IS NOT NULL
    )
    SELECT CAST(row_number() OVER (ORDER BY prio, doc_id) AS BIGINT) AS pos,
           doc_id, source, prio
    FROM prios ORDER BY prio, doc_id LIMIT 200
    """,
    description="Deterministic WEIGHTED source interleaving — the "
    "training-order stream a data loader consumes: prio = "
    "uniform-hash(doc_id) / r_s with r_s = min_w/sqrt(n_s) (smallest "
    "source at full rate — p118's tau=0.5 temperature idiom as a "
    "stream order), so every PREFIX holds sources in proportion "
    "sqrt(n_s): dominant sources flattened to their sqrt share. First "
    "200 positions graded. "
    "operators/curation.py::interleave_order. Scale shape — the reason "
    "this is hash-priority and NOT row_number-per-source: a per-source "
    "rank window puts a source's entire slice in ONE task at 100 TB; "
    "here weights are one |sources|-row fold broadcast back, prio is "
    "map-side, the global order is a TakeOrdered top-N, and only the "
    "200-row result sees a single-partition window for pos. "
    "Determinism: h = first-8-hex-md5 bigint / 2^32 and prio = h / r "
    "are exact-int divisions and correctly-rounded IEEE ops — "
    "bit-identical doubles cross-engine, no summation; ties (prio, "
    "doc_id).",
)
def p123_source_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.curation import interleave_order

    return interleave_order(load(spark, sf_dir, "documents"), top_n=200)


_Q70_STMT = """
    SELECT o_orderkey,
           CAST(count(*) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
               EXCLUDE CURRENT ROW) AS BIGINT) AS n_neigh,
           round(CAST(sum(o_totalprice) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
               EXCLUDE CURRENT ROW) AS DOUBLE), 2) AS neigh_price
    FROM {tbl}
"""


@register(
    "q70_window_exclude",
    oracle=_Q70_STMT.format(tbl="orders"),
    description="SQL:2011 window EXCLUDE CURRENT ROW through duck_sql "
    "(the dialect surface adjacent to q69's GROUPS — Spark implements "
    "NO EXCLUDE clause at all): per-order neighbor count and neighbor "
    "price mass over a 2-preceding/2-following frame, the "
    "leave-one-out window a dedup/anomaly pass uses to score a row "
    "against its surroundings WITHOUT itself. Spark runs "
    "compat.rewrite_window_exclude's frame arithmetic (sum-minus-self "
    "with the n_other=0→NULL empty-frame guard; count(*)-1); the "
    "oracle is the IDENTICAL statement run natively by DuckDB 1.0. "
    "Determinism: the window orders by the unique non-null "
    "(o_orderdate, o_orderkey) pair so frames are identical on both "
    "engines; the sum subtraction stays at 2-dp money points (the q69 "
    "argument) and is rounded 2 dp. Scale shape: the rewrite adds ONE "
    "extra window aggregate over the SAME partitioning — no second "
    "shuffle, no joins, no self-join (the naive EXCLUDE emulation).",
)
def q70_window_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.compat import duck_sql

    load(spark, sf_dir, "orders").createOrReplaceTempView("__q70_orders")
    return duck_sql(spark, _Q70_STMT.format(tbl="__q70_orders"))
