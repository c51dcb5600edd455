"""r15 operators — the dialect and serving-side gaps the r14 verdict
named, each graded against a NATIVE DuckDB oracle where the sandbox
supports one:

- q71: ASOF JOIN as SQL dialect through duck_sql
  (compat.rewrite_asof_join — the simple form rewritten onto the q49
  union + last-carry-forward window). The oracle is DuckDB's NATIVE
  ASOF JOIN. Uses the FORWARD direction (next click at-or-after each
  purchase, inner) so it exercises the DESC carry path q49's backward
  form does not.
- q72: window EXCLUDE CURRENT ROW with min/max through duck_sql
  (compat._split_frame_minmax — the positional split-frame recipe,
  [lo, 1 PRECEDING] ⊎ [1 FOLLOWING, hi] combined with least/greatest).
  The oracle is DuckDB's NATIVE SQL:2011 EXCLUDE (1.0 implements the
  full clause) — the strongest oracle class, like q70.
- p124: PQ asymmetric-distance top-k (ADC — Jégou et al. 2011 §IV-A;
  FAISS IndexPQ.search), closing the p120/p121 product-quantization
  family with the serving-side query path: per query an m×kc LUT of
  exact int64 subspace distances, corpus scored through its CODES only
  (LUT gather + sum, map-side), per-query top-k. The oracle extends
  the p120/p121 CTE chain with codes/lut/adc CTEs — all-integer, so
  it hash-grades exactly.
- p125: two-stage search (FAISS IndexRefineFlat) — ADC shortlist +
  exact re-rank of the bounded Q×R candidate set via one broadcast
  join; recall recovery with exactness of returned distances pinned.
- p126: IVF-PQ (FAISS IndexIVFPQ) — coarse k-means cells, residual PQ
  codebook (the same seeded Lloyd machinery over x − c_cell), probed
  residual-ADC scoring; the canonical 100 TB serving index, graded
  end-to-end by a three-stage CTE oracle.

Reference parity note: the reference engine (a per-request federation
extension) has none of these; they are the LLM-pipeline / dialect
surface this repo adds on top, per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_cloudflare_spark.queries import load, register
from duckdb_cloudflare_spark.queries.pipeline_r14 import _PQ_CTES
from duckdb_cloudflare_spark.util.sizing import ensure_parallelism


@register(
    "q71_asof_join_dialect",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, round(p.value, 4) AS value,
           c.ts AS click_ts, c.click_id
    FROM purchases p ASOF JOIN clicks c
      ON p.user_id = c.user_id AND c.ts >= p.ts
    """,
    description="ASOF JOIN as SQL dialect (r14 verdict item 2): each "
    "purchase matched to the user's NEXT click at-or-after it (inner — "
    "purchases with no later click drop). The oracle is DuckDB's NATIVE "
    "ASOF JOIN; Spark runs the IDENTICAL statement through duck_sql, "
    "where compat.rewrite_asof_join lowers the simple form onto the "
    "q49 union + last-carry-forward window (here the c.ts >= p.ts "
    "inequality normalizes to the DESC carry — the direction q49's "
    "backward form never exercises). Clicks are deduped to one per "
    "(user_id, ts) (max event_id) so ties are deterministic on both "
    "engines (DuckDB documents the within-tie pick as arbitrary). "
    "Documented divergence, pinned in tests/test_compat.py: DuckDB "
    "1.0's LEFT ASOF matches a NULL left ordering value (while its own "
    "INNER drops the same row and NULL >= x is NULL) — the rewrite "
    "keeps predicate semantics on both join types. Scale shape: ONE "
    "shuffle on user_id, one window pass — no range-join explosion, no "
    "broadcast-nested-loop; the events corpus crosses the wire once.",
)
def q71_asof_join_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.compat import duck_sql

    e = load(spark, sf_dir, "events")
    (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .createOrReplaceTempView("__q71_clicks")
    )
    (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
        .createOrReplaceTempView("__q71_purch")
    )
    return duck_sql(
        spark,
        """
        SELECT p.event_id, p.user_id, p.ts, round(p.value, 4) AS value,
               c.ts AS click_ts, c.click_id
        FROM __q71_purch p ASOF JOIN __q71_clicks c
          ON p.user_id = c.user_id AND c.ts >= p.ts
        """,
    )


@register(
    "q72_window_exclude_minmax",
    oracle="""
    SELECT o_orderkey,
           min(o_totalprice) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               EXCLUDE CURRENT ROW) AS loo_min,
           max(o_totalprice) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               EXCLUDE CURRENT ROW) AS loo_max
    FROM orders
    """,
    description="SQL:2011 window EXCLUDE CURRENT ROW with min/max "
    "through duck_sql (r14 verdict item 6): each order's leave-one-out "
    "neighborhood price extremes — the local-outlier primitive (is my "
    "value the neighborhood max once I'm excluded?). min/max are not "
    "subtractable, so compat rewrites via the positional split-frame "
    "recipe ([lo, 1 PRECEDING] ⊎ [1 FOLLOWING, hi], least/greatest "
    "whose NULL-skipping is exactly min/max over the excluded union) — "
    "two window aggregates on the SAME sort, one shuffle, the q70 "
    "pattern. The oracle is DuckDB's NATIVE EXCLUDE. Determinism: the "
    "window orders by the UNIQUE (o_orderdate, o_orderkey) so ROWS "
    "frames are identical across engines; min/max pass doubles through "
    "unsummed — bit-exact. Scale shape: one hash-partitioned sort on "
    "o_orderpriority, zero joins.",
)
def q72_window_exclude_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.compat import duck_sql

    load(spark, sf_dir, "orders").createOrReplaceTempView("__q72_orders")
    return duck_sql(
        spark,
        """
        SELECT o_orderkey,
               min(o_totalprice) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
                   EXCLUDE CURRENT ROW) AS loo_min,
               max(o_totalprice) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
                   EXCLUDE CURRENT ROW) AS loo_max
        FROM __q72_orders
        """,
    )


@register(
    "p124_pq_adc_topk",
    oracle=_PQ_CTES
    + """
    , codes AS (
        SELECT vec_id, subspace, cid FROM (
            SELECT e.vec_id, e.subspace, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, e.subspace
                       ORDER BY sum((e.x - c.c) * (e.x - c.c)), c.cid
                   ) AS rn
            FROM el e JOIN m2 c ON c.subspace = e.subspace AND c.j = e.j
            GROUP BY e.vec_id, e.subspace, c.cid
        ) WHERE rn = 1
    ), qids AS (
        SELECT vec_id FROM base ORDER BY vec_id LIMIT 4
    ), lut AS (
        SELECT q.vec_id AS qid, c.subspace, c.cid,
               sum((q.x - c.c) * (q.x - c.c)) AS d
        FROM (SELECT e.* FROM el e JOIN qids ON qids.vec_id = e.vec_id) q
        JOIN m2 c ON c.subspace = q.subspace AND c.j = q.j
        GROUP BY q.vec_id, c.subspace, c.cid
    ), adc AS (
        SELECT l.qid, cd.vec_id AS nid, sum(l.d) AS dist
        FROM codes cd
        JOIN lut l ON l.subspace = cd.subspace AND l.cid = cd.cid
        GROUP BY l.qid, cd.vec_id
    )
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(dist AS BIGINT) AS adc_dist_micro2, CAST(rn AS INT) AS nn_rank
    FROM (
        SELECT qid, nid, dist, row_number() OVER (
                   PARTITION BY qid ORDER BY dist, nid) AS rn
        FROM adc WHERE qid != nid
    ) WHERE rn <= 10
    """,
    description="PQ asymmetric-distance top-k (ADC; Jégou et al. 2011 "
    "§IV-A, FAISS IndexPQ.search) — the serving-side query that closes "
    "the p120/p121 family (r14 verdict item 3): per query one m×kc LUT "
    "of EXACT int64 subspace distances against the trained codebook; "
    "the corpus is scored through its 12-bit CODES only (dist = "
    "Σ_s LUT[s, code_s]) — vectors' floats never touch the query path, "
    "which is the whole point of holding 100 TB of codes in serving "
    "RAM. operators/similarity.py::pq_topk. Queries: the 4 smallest "
    "vec_ids of the filtered base (deterministic, no RNG); k=10; "
    "self-matches excluded (brute_force_topk convention — p05 is the "
    "exact-recall anchor, pinned in tests/test_r15_ops.py). Scale "
    "shape: after the bounded codebook fit, ONE map-only corpus pass "
    "(a single Arrow numpy kernel assigns codes AND gathers LUT sums — "
    "zero joins, zero corpus shuffles, plan-pinned) + the per-query "
    "top-k window over the bounded query set. Determinism: all-integer "
    "micro² distances; argmin first-min == (dist, cid); top-k ties on "
    "neighbor_id.",
)
def p124_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.similarity import pq_topk

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    queries = (
        emb.filter(F.col("vec_id").isNotNull())
        .filter(F.size("embedding") == 64)
        .filter(F.size(F.filter("embedding", lambda v: v.isNull())) == 0)
        .orderBy("vec_id")
        .limit(4)
    )
    return pq_topk(emb, queries, k=10, m=4, sub_dims=16, kc=8, n_iters=2)


@register(
    "p125_pq_rerank_topk",
    oracle=_PQ_CTES
    + """
    , codes AS (
        SELECT vec_id, subspace, cid FROM (
            SELECT e.vec_id, e.subspace, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, e.subspace
                       ORDER BY sum((e.x - c.c) * (e.x - c.c)), c.cid
                   ) AS rn
            FROM el e JOIN m2 c ON c.subspace = e.subspace AND c.j = e.j
            GROUP BY e.vec_id, e.subspace, c.cid
        ) WHERE rn = 1
    ), qids AS (
        SELECT vec_id FROM base ORDER BY vec_id LIMIT 4
    ), lut AS (
        SELECT q.vec_id AS qid, c.subspace, c.cid,
               sum((q.x - c.c) * (q.x - c.c)) AS d
        FROM (SELECT e.* FROM el e JOIN qids ON qids.vec_id = e.vec_id) q
        JOIN m2 c ON c.subspace = q.subspace AND c.j = q.j
        GROUP BY q.vec_id, c.subspace, c.cid
    ), adc AS (
        SELECT l.qid, cd.vec_id AS nid, sum(l.d) AS dist
        FROM codes cd
        JOIN lut l ON l.subspace = cd.subspace AND l.cid = cd.cid
        GROUP BY l.qid, cd.vec_id
    ), short AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, row_number() OVER (
                       PARTITION BY qid ORDER BY dist, nid) AS rn
            FROM adc WHERE qid != nid
        ) WHERE rn <= 50
    ), exact AS (
        SELECT s.qid, s.nid, sum((q.x - c.x) * (q.x - c.x)) AS d
        FROM short s
        JOIN el q ON q.vec_id = s.qid
        JOIN el c ON c.vec_id = s.nid
                 AND c.subspace = q.subspace AND c.j = q.j
        GROUP BY s.qid, s.nid
    )
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(d AS BIGINT) AS l2_dist_micro2, CAST(rn AS INT) AS nn_rank
    FROM (
        SELECT qid, nid, d, row_number() OVER (
                   PARTITION BY qid ORDER BY d, nid) AS rn
        FROM exact
    ) WHERE rn <= 10
    """,
    description="Two-stage PQ serving search (FAISS IndexRefineFlat): "
    "p124's ADC code scan shortlists R=50 candidates per query, then "
    "ONLY those Q×R rows are re-ranked with the EXACT int64 squared L2 "
    "on the full micro-int vectors — how a serving tier recovers "
    "exactness from 12-bit codes without ever scanning full vectors "
    "corpus-wide (codes stay RAM-resident at 100 TB; vectors are "
    "fetched for thousands of rows, not billions). "
    "operators/similarity.py::pq_rerank_topk. Measured on the sf0.001 "
    "fixture: raw ADC recall@10 = 0.05 → rerank recall@10 = 0.325 with "
    "R=50, a 6.5× lift bounded by P(true top-10 ⊂ ADC top-50) on "
    "near-iid synthetic vectors (pinned in tests/test_r15_ops.py; real "
    "clustered embeddings sit far higher). Scale shape: stage 1 is "
    "p124's map-only plan; stage 2 BROADCASTS the bounded shortlist "
    "into the corpus scan (one broadcast hash join, zero corpus "
    "shuffles, plan-pinned) and computes distances in one Arrow numpy "
    "kernel per batch against the closure-held query matrix. "
    "Determinism: exact int64 end-to-end; both stages tie on "
    "neighbor_id.",
)
def p125_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.similarity import pq_rerank_topk

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    queries = (
        emb.filter(F.col("vec_id").isNotNull())
        .filter(F.size("embedding") == 64)
        .filter(F.size(F.filter("embedding", lambda v: v.isNull())) == 0)
        .orderBy("vec_id")
        .limit(4)
    )
    return pq_rerank_topk(
        emb, queries, k=10, shortlist=50, m=4, sub_dims=16, kc=8, n_iters=2
    )


# IVF-PQ CTE chain (p126): the three stages unrolled — coarse k-means
# (the p120 machinery at m=1 over full vectors), residual PQ (the same
# machinery over x - c_cell), probed ADC. Same determinism rules
# throughout: md5-order seeds, exact bigint distances, (dist, cid)
# ties, floor(sum/count) means, empty-cluster carry via LEFT JOIN +
# COALESCE.
_IVFPQ_CTES = """
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, e ->
                   CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)
               ) AS xm
        FROM embeddings
        WHERE vec_id IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding, e -> e IS NULL)) = 0
    ), fel AS (
        SELECT vec_id, CAST(i - 1 AS INT) AS j, xm[i] AS x
        FROM (SELECT vec_id, xm,
                     unnest(generate_series(1, 64)) AS i FROM base)
    ), cseeds AS (
        SELECT xm, cid FROM (
            SELECT xm, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                               1, 8)) AS BIGINT), vec_id) - 1 AS cid
            FROM base
        ) WHERE cid < 8
    ), cc0 AS (
        SELECT s.cid, g.j, s.xm[g.j + 1] AS c
        FROM (SELECT unnest(generate_series(0, 63)) AS j) g, cseeds s
    ), ca1 AS (
        SELECT vec_id, cid FROM (
            SELECT f.vec_id, c.cid, row_number() OVER (
                       PARTITION BY f.vec_id
                       ORDER BY sum((f.x - c.c) * (f.x - c.c)), c.cid
                   ) AS rn
            FROM fel f JOIN cc0 c ON c.j = f.j
            GROUP BY f.vec_id, c.cid
        ) WHERE rn = 1
    ), cc1 AS (
        SELECT cc0.cid, cc0.j,
               COALESCE(CAST(floor(CAST(s.sx AS DOUBLE) / s.n) AS BIGINT),
                        cc0.c) AS c
        FROM cc0 LEFT JOIN (
            SELECT a.cid, f.j, sum(f.x) AS sx, count(*) AS n
            FROM ca1 a JOIN fel f ON f.vec_id = a.vec_id
            GROUP BY a.cid, f.j
        ) s ON s.cid = cc0.cid AND s.j = cc0.j
    ), ca2 AS (
        SELECT vec_id, cid FROM (
            SELECT f.vec_id, c.cid, row_number() OVER (
                       PARTITION BY f.vec_id
                       ORDER BY sum((f.x - c.c) * (f.x - c.c)), c.cid
                   ) AS rn
            FROM fel f JOIN cc1 c ON c.j = f.j
            GROUP BY f.vec_id, c.cid
        ) WHERE rn = 1
    ), cc2 AS (
        SELECT cc1.cid, cc1.j,
               COALESCE(CAST(floor(CAST(s.sx AS DOUBLE) / s.n) AS BIGINT),
                        cc1.c) AS c
        FROM cc1 LEFT JOIN (
            SELECT a.cid, f.j, sum(f.x) AS sx, count(*) AS n
            FROM ca2 a JOIN fel f ON f.vec_id = a.vec_id
            GROUP BY a.cid, f.j
        ) s ON s.cid = cc1.cid AND s.j = cc1.j
    ), cellof AS (
        SELECT vec_id, cid FROM (
            SELECT f.vec_id, c.cid, row_number() OVER (
                       PARTITION BY f.vec_id
                       ORDER BY sum((f.x - c.c) * (f.x - c.c)), c.cid
                   ) AS rn
            FROM fel f JOIN cc2 c ON c.j = f.j
            GROUP BY f.vec_id, c.cid
        ) WHERE rn = 1
    ), rel AS (
        SELECT f.vec_id, CAST(f.j // 16 AS INT) AS subspace,
               CAST(f.j % 16 AS INT) AS sj, f.x - c.c AS x
        FROM fel f
        JOIN cellof a ON a.vec_id = f.vec_id
        JOIN cc2 c ON c.cid = a.cid AND c.j = f.j
    ), rseedids AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                               1, 8)) AS BIGINT), vec_id) - 1 AS cid
            FROM base
        ) WHERE cid < 8
    ), rc0 AS (
        SELECT r.subspace, si.cid, r.sj AS j, r.x AS c
        FROM rel r JOIN rseedids si ON si.vec_id = r.vec_id
    ), ra1 AS (
        SELECT vec_id, subspace, cid FROM (
            SELECT r.vec_id, r.subspace, c.cid, row_number() OVER (
                       PARTITION BY r.vec_id, r.subspace
                       ORDER BY sum((r.x - c.c) * (r.x - c.c)), c.cid
                   ) AS rn
            FROM rel r JOIN rc0 c ON c.subspace = r.subspace AND c.j = r.sj
            GROUP BY r.vec_id, r.subspace, c.cid
        ) WHERE rn = 1
    ), rc1 AS (
        SELECT rc0.subspace, rc0.cid, rc0.j,
               COALESCE(CAST(floor(CAST(s.sx AS DOUBLE) / s.n) AS BIGINT),
                        rc0.c) AS c
        FROM rc0 LEFT JOIN (
            SELECT a.subspace, a.cid, r.sj AS j, sum(r.x) AS sx,
                   count(*) AS n
            FROM ra1 a
            JOIN rel r ON r.vec_id = a.vec_id AND r.subspace = a.subspace
            GROUP BY a.subspace, a.cid, r.sj
        ) s ON s.subspace = rc0.subspace AND s.cid = rc0.cid
           AND s.j = rc0.j
    ), ra2 AS (
        SELECT vec_id, subspace, cid FROM (
            SELECT r.vec_id, r.subspace, c.cid, row_number() OVER (
                       PARTITION BY r.vec_id, r.subspace
                       ORDER BY sum((r.x - c.c) * (r.x - c.c)), c.cid
                   ) AS rn
            FROM rel r JOIN rc1 c ON c.subspace = r.subspace AND c.j = r.sj
            GROUP BY r.vec_id, r.subspace, c.cid
        ) WHERE rn = 1
    ), rc2 AS (
        SELECT rc1.subspace, rc1.cid, rc1.j,
               COALESCE(CAST(floor(CAST(s.sx AS DOUBLE) / s.n) AS BIGINT),
                        rc1.c) AS c
        FROM rc1 LEFT JOIN (
            SELECT a.subspace, a.cid, r.sj AS j, sum(r.x) AS sx,
                   count(*) AS n
            FROM ra2 a
            JOIN rel r ON r.vec_id = a.vec_id AND r.subspace = a.subspace
            GROUP BY a.subspace, a.cid, r.sj
        ) s ON s.subspace = rc1.subspace AND s.cid = rc1.cid
           AND s.j = rc1.j
    ), rcodes AS (
        SELECT vec_id, subspace, cid FROM (
            SELECT r.vec_id, r.subspace, c.cid, row_number() OVER (
                       PARTITION BY r.vec_id, r.subspace
                       ORDER BY sum((r.x - c.c) * (r.x - c.c)), c.cid
                   ) AS rn
            FROM rel r JOIN rc2 c ON c.subspace = r.subspace AND c.j = r.sj
            GROUP BY r.vec_id, r.subspace, c.cid
        ) WHERE rn = 1
    ), qids AS (
        SELECT vec_id FROM base ORDER BY vec_id LIMIT 4
    ), qprobe AS (
        SELECT qid, cid FROM (
            SELECT f.vec_id AS qid, c.cid, row_number() OVER (
                       PARTITION BY f.vec_id
                       ORDER BY sum((f.x - c.c) * (f.x - c.c)), c.cid
                   ) AS rn
            FROM (SELECT f.* FROM fel f
                  JOIN qids ON qids.vec_id = f.vec_id) f
            JOIN cc2 c ON c.j = f.j
            GROUP BY f.vec_id, c.cid
        ) WHERE rn <= 2
    ), qres AS (
        SELECT p.qid, p.cid AS cell, CAST(f.j // 16 AS INT) AS subspace,
               CAST(f.j % 16 AS INT) AS sj, f.x - c.c AS x
        FROM qprobe p
        JOIN fel f ON f.vec_id = p.qid
        JOIN cc2 c ON c.cid = p.cid AND c.j = f.j
    ), rlut AS (
        SELECT q.qid, q.cell, c.subspace, c.cid,
               sum((q.x - c.c) * (q.x - c.c)) AS d
        FROM qres q JOIN rc2 c ON c.subspace = q.subspace AND c.j = q.sj
        GROUP BY q.qid, q.cell, c.subspace, c.cid
    ), cand AS (
        SELECT l.qid, rc.vec_id AS nid, sum(l.d) AS dist
        FROM rcodes rc
        JOIN cellof cf ON cf.vec_id = rc.vec_id
        JOIN rlut l ON l.cell = cf.cid AND l.subspace = rc.subspace
                   AND l.cid = rc.cid
        GROUP BY l.qid, rc.vec_id
    )
"""


@register(
    "p126_ivfpq_topk",
    oracle=_IVFPQ_CTES
    + """
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(dist AS BIGINT) AS ivfpq_dist_micro2,
           CAST(rn AS INT) AS nn_rank
    FROM (
        SELECT qid, nid, dist, row_number() OVER (
                   PARTITION BY qid ORDER BY dist, nid) AS rn
        FROM cand WHERE qid != nid
    ) WHERE rn <= 10
    """,
    description="IVF-PQ search (Jégou et al. 2011 §V; FAISS IndexIVFPQ) "
    "— the canonical 100 TB ANN serving index, composed from the "
    "repo's own deterministic parts and graded END-TO-END: (1) coarse "
    "k-means over full micro-int vectors (the p120 machinery at m=1, "
    "8 cells), (2) residual PQ — every vector's exact int64 residual "
    "x − c_cell encoded by an m=4×8 codebook trained by the SAME "
    "seeded Lloyd loop on the residuals (FAISS's residual encoding: "
    "residuals are small, so the 12 bits concentrate near zero), "
    "(3) per query: probe the 2 nearest cells, build one residual-ADC "
    "LUT per probed cell, score candidates through their CODES only. "
    "operators/similarity.py::ivfpq_topk. Scale shape: two bounded-"
    "codebook fits + MAP-ONLY corpus passes (cell-assign+residual, "
    "then code-assign+probed-ADC in one Arrow kernel — zero joins, "
    "zero corpus shuffles, plan-pinned); non-probed rows emit nothing "
    "(the IVF pruning). Determinism: exact integers end-to-end, "
    "md5-order seeds, (dist, cid)/(dist, nid) lexicographic ties, "
    "floor(sum/count) means, empty-cluster carry — the oracle unrolls "
    "all three stages as CTEs.",
)
def p126_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.similarity import ivfpq_topk

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    queries = (
        emb.filter(F.col("vec_id").isNotNull())
        .filter(F.size("embedding") == 64)
        .filter(F.size(F.filter("embedding", lambda v: v.isNull())) == 0)
        .orderBy("vec_id")
        .limit(4)
    )
    return ivfpq_topk(
        emb, queries, k=10, n_probe=2, n_cells=8,
        m=4, sub_dims=16, kc=8, n_iters=2,
    )
