"""Similarity search over embedding columns: brute-force cosine top-k as the
exact baseline, and an LSH-bucketed approximate variant as the scale path.

Scale notes:
- brute_force_topk is a broadcast-join (queries side is small by contract)
  followed by a per-query top-k window — corpus never shuffles, the scan
  streams. That is the right plan at any corpus size as long as the query
  set fits in a broadcast (the usual ANN-serving shape).
- lsh_topk buckets both sides with a random-hyperplane sketch (with
  multi-probe on the query side) so each query only scores its bucket —
  the 1000-executor plan for corpus × corpus expansion.

Every kernel here is an ``arrow_udf`` or a ``mapInArrow`` function that
decodes its list columns through ``util/vectors.py``, which states the one
NULL / wrong-length / NULL-element decode policy; the exact operators
collect their query side through ``_collect_side``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, broadcast
from pyspark.sql.types import ArrayType, IntegerType, LongType
from pyspark.sql.window import Window

from duckdb_cloudflare_spark.operators.dedup import _hyperplane_sketch, cosine_similarity
from duckdb_cloudflare_spark.util import vectors
from duckdb_cloudflare_spark.util.sizing import ensure_parallelism

# Bounded (ADVICE r2): hits only matter within one query's corpus/query
# double use of the same centroids, so a handful of entries suffices; an
# unbounded dict keyed by freshly-trained centroid bytes would grow forever
# in a long-lived session.
_CELL_UDF_CACHE: dict = {}
_CELL_UDF_CACHE_MAX = 4


def _cell_rows(vecs: pa.Array, cents_t: np.ndarray, n_top: int) -> pa.Array:
    """Top-``n_top`` centroid indices by dot product, one matrix multiply per
    Arrow batch: (n, d) @ (d, C) → argsort. NULL/odd-length vectors → []."""
    M, rows, _ = vectors.fixed(vecs, cents_t.shape[0])
    order = np.argsort(-(M @ cents_t), axis=1, kind="stable")[:, :n_top]
    return vectors.lists(order.astype(np.int32), rows, len(vecs), fill="empty")


def _cells_udf(cents: np.ndarray, n_top: int):
    """Arrow UDF: embedding → top-``n_top`` IVF cells (same vectorized-matmul
    pattern as dedup._sketch_udf; centroids are closure-shipped, tiny)."""
    key = (cents.tobytes(), n_top)
    if key not in _CELL_UDF_CACHE:
        cents_t = np.ascontiguousarray(np.asarray(cents, dtype=np.float64).T)

        @arrow_udf(ArrayType(IntegerType()))
        def cells(vecs: pa.Array) -> pa.Array:
            return _cell_rows(vecs, cents_t, n_top)

        if len(_CELL_UDF_CACHE) >= _CELL_UDF_CACHE_MAX:
            _CELL_UDF_CACHE.pop(next(iter(_CELL_UDF_CACHE)))
        _CELL_UDF_CACHE[key] = cells
    return _CELL_UDF_CACHE[key]


def _collect_side(
    df: DataFrame, op: str, id_col: str, vec_col: str, *extra: str,
    side: str = "queries",
) -> list:
    """The bounded driver-side collect of an exact operator's query (or
    anchor) side: rows ``(id, vector, *extra)`` sorted by id, rows with a
    NULL id or vector dropped (as the corpus side drops them). Past
    ``SPARK_GRAFT_BRUTE_MAX_QUERIES`` rows it fails loudly as a misuse
    instead of collecting unboundedly into a driver OOM. A repeated id is
    the same kind of misuse: the top-k windows rank per id, so two rows
    with one id would return each neighbor once per copy and crowd out
    the rest."""
    cap = int(os.environ.get("SPARK_GRAFT_BRUTE_MAX_QUERIES", "100000"))
    rows = df.select(id_col, vec_col, *extra).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{op}: {side} side exceeds {cap} rows; this exact operator "
            f"collects the {side} to the driver — batch them, use lsh_topk/"
            "ivf_topk for large query sets, or raise "
            "SPARK_GRAFT_BRUTE_MAX_QUERIES"
        )
    out = sorted(
        (r for r in rows if r[0] is not None and r[1] is not None),
        key=lambda r: r[0],
    )
    for a, b in zip(out, out[1:]):
        if a[0] == b[0]:
            raise ValueError(f"{op}: duplicate {side} id {a[0]}")
    return out


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    Returns (query_id, neighbor_id, cosine_sim, nn_rank), excluding self-matches.
    Deterministic tie-break on (sim DESC, neighbor_id ASC).
    """
    # Collect the query matrix driver-side (small by contract — the usual
    # ANN-serving shape) and score every query per corpus row in ONE
    # (batch × d) @ (d × m) matrix multiply inside an Arrow kernel.
    # Versus the per-(query, corpus-row) join formulation this ships each
    # corpus vector across the Arrow boundary once instead of m times, and
    # the top-k window shuffle carries a banded per-batch top-(k+1)
    # shortlist of 3 scalar columns (r16), not corpus×queries rows and
    # never embeddings.
    qrows = _collect_side(queries, "brute_force_topk", query_id, query_vec)
    spark = queries.sparkSession
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, nn_rank int"
        )
    qids = [r[0] for r in qrows]
    Qm = np.asarray([r[1] for r in qrows], dtype=np.float64)  # (m, d)
    Qt = np.ascontiguousarray(Qm.T)  # (d, m)
    qn = np.maximum(np.linalg.norm(Qm, axis=1), 1e-12)  # (m,)

    # r16 (guide §2.3, the mine_triplets/_pq_lloyd partial-fold
    # precedent): the kernel folds a per-query top-(k+1) candidate
    # shortlist PER BATCH instead of posexploding |corpus|×|queries|
    # scalar rows through the JVM window. The band is exact, not
    # approximate: rows are kept when sim·1e6 is within 2 micro-units of
    # the batch's (k+1)-th largest finite value (k+1 because a query's
    # self-match is filtered AFTER the kernel, exactly as before); a
    # dropped row has >= k+1 rows a full micro-unit above it, so after
    # HALF_UP rounding at 6 dp (which moves a value by at most 0.5+ulp)
    # at least k non-self rows still rank strictly above it — it can never
    # enter the rounded top-k, whatever the id tie-breaks do. Non-finite
    # similarities (a NaN element) are always kept: the JVM ranks NaN
    # greatest, as Spark and DuckDB order it, so it may well be in the
    # top-k. The JVM then rounds and ranks the shortlist with the
    # IDENTICAL expressions the full stream used, so results are
    # bit-for-bit unchanged.
    kk = k + 1

    def _fold(batches):
        for rb in batches:
            cv = rb.column("cv")
            M, rows, wrong = vectors.fixed(cv, Qt.shape[0])
            if len(wrong):
                raise ValueError(
                    f"brute_force_topk: corpus vector dimension "
                    f"{vectors.lengths(cv)[wrong[0]]} != query dimension "
                    f"{Qt.shape[0]} — cosine is undefined across dimensions; "
                    "filter or re-embed the corpus first"
                )
            if not len(rows):
                continue
            cn = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            # dot / (|c| * |q|) — the oracle's exact formulation, so the
            # float64 rounding path matches the per-pair scorer bit-for-bit
            S = (M @ Qt) / (cn * qn[None, :])  # (B, m)
            Y = S * 1e6
            cid = rb.column("neighbor_id").to_numpy()[rows].astype(np.int64)
            b = Y.shape[0]
            fin = np.isfinite(Y)
            if b > kk:
                # (k+1)-th largest finite value per query (column)
                kth = np.partition(np.where(fin, Y, -np.inf), b - kk, axis=0)[b - kk, :]
                keep = ~fin | (Y >= kth[None, :] - 2.0)
            else:
                keep = np.ones_like(Y, dtype=bool)
            r, q = np.nonzero(keep)
            yield pa.RecordBatch.from_arrays(
                [pa.array(q.astype(np.int32)), pa.array(cid[r]), pa.array(S[r, q])],
                names=["qpos", "neighbor_id", "sim"],
            )

    c = (
        ensure_parallelism(corpus)
        .filter(F.col(corpus_id).isNotNull())
        .select(F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("cv"))
    )
    scored = (
        c.mapInArrow(_fold, schema="qpos int, neighbor_id long, sim double")
        .select(
            F.element_at(F.array(*[F.lit(q) for q in qids]), F.col("qpos") + 1).alias(
                "query_id"
            ),
            "neighbor_id",
            F.round("sim", 6).alias("cosine_sim"),  # JVM round — oracle-identical
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nn_rank")
    )


def fit_ivf_centroids(
    corpus: "DataFrame",
    n_centroids: int = 16,
    fit_sample: int = 10_000,
    seed: int = 42,
    corpus_vec: str = "embedding",
):
    """Deterministic k-means coarse quantizer fit on a bounded driver-side
    sample (standard IVF practice — the quantizer needs a sample, not the
    corpus): unit-normalized vectors, seeded init, fixed Lloyd iterations.
    Returns a numpy (n_centroids x d) array, or None for an empty corpus.
    Extracted from ``ivf_topk`` so the fitted centroids can ALSO drive
    stream-time cell assignment (``assign_cells`` is map-only and applies
    to readStream DataFrames unchanged)."""
    import numpy as np

    sample = [
        r["v"]
        for r in corpus.select(F.col(corpus_vec).alias("v")).limit(fit_sample).collect()
    ]
    if not sample:
        return None
    X = np.asarray(sample, dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    n_centroids = min(n_centroids, len(X))
    cents = X[rng.choice(len(X), n_centroids, replace=False)]
    for _ in range(10):  # fixed Lloyd iterations — deterministic
        assign = np.argmax(X @ cents.T, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def assign_cells(
    df: "DataFrame", cents, vec_col: str = "embedding", n_top: int = 1
):
    """Append the IVF ``cell`` assignment (n_top == 1) or a ``cells`` array
    (n_top > 1) for every vector: one Arrow-batched matmul against the
    broadcast centroid literal — map-only, so it works identically on
    batch AND streaming DataFrames (ingest-time vector routing)."""
    if n_top == 1:
        return df.withColumn(
            "cell", F.get(_cells_udf(cents, 1)(F.col(vec_col)), 0)
        )
    return df.withColumn("cells", _cells_udf(cents, n_top)(F.col(vec_col)))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    fit_sample: int = 10_000,
    seed: int = 42,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer fit
    on a bounded driver-side sample, cells assigned JVM-side, each query
    probes its ``n_probe`` nearest cells and rescored exactly within them.

    Scale shape: the centroid fit touches ≤ ``fit_sample`` vectors (standard
    IVF practice — the quantizer needs a sample, not the corpus), centroids
    ship as a broadcast literal, cell assignment is a map-only JVM
    expression, and the search is a (cell-bucketed corpus) ⋈ (broadcast
    probes) join — the corpus never shuffles, so the same plan holds at
    100 TB. Deterministic: fixed seed, fixed iteration count.
    """
    cents = fit_ivf_centroids(
        corpus, n_centroids=n_centroids, fit_sample=fit_sample, seed=seed,
        corpus_vec=corpus_vec,
    )
    if cents is None:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, nn_rank int"
        )

    # Cell scoring is one Arrow-batched matrix multiply (X @ centroids.T +
    # argsort) — the interpreted n_centroids-expression-trees-per-row variant
    # measured 4-5x slower (VERDICT r1 item 4). F.get (not element_at) so an
    # empty sketch row yields NULL instead of an ANSI index error.
    c = assign_cells(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("cv")
        ),
        cents,
        vec_col="cv",
    )
    c = ensure_parallelism(c)
    # queries: top-n_probe cells, exploded (query side is small by contract)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        F.explode(_cells_udf(cents, n_probe)(F.col(query_vec))).alias("cell"),
    )
    scored = (
        c.join(broadcast(q), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6))
        .select("query_id", "neighbor_id", "cosine_sim")  # vectors stay out of the shuffle
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nn_rank")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket join + exact rescoring
    inside the bucket. Multi-probe: each query also probes the num_planes
    buckets at Hamming distance 1 from its own sketch, which recovers most
    boundary losses at the cost of (num_planes+1)× the query-side rows
    (queries are the small side — cheap)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    first = corpus.select(F.size(F.col(corpus_vec)).alias("d")).first()
    dim = first["d"] if first else 0
    planes = rng.standard_normal((num_planes, dim))

    c = ensure_parallelism(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("cv"),
        _hyperplane_sketch(F.col(corpus_vec), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        _hyperplane_sketch(F.col(query_vec), planes).alias("sk"),
    )
    probes = F.array(
        F.col("sk"), *[F.col("sk").bitwiseXOR(F.lit(2**i).cast("bigint")) for i in range(num_planes)]
    )
    qp = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    scored = (
        c.join(broadcast(qp), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6))
        .select("query_id", "neighbor_id", "cosine_sim")  # vectors stay out of the shuffle
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nn_rank")
    )


def centroid_cosine(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Embedding-quality audit: cosine of every vector to the CORPUS MEAN
    vector — the outlier/drift diagnostic run before a corpus's embeddings
    feed ANN indexing or clustering (a vector anti-correlated with the
    centroid is a likely encoder failure or wrong-modality row).

    Returns (id, cos_centroid) with cos rounded to ``round_dp``. The mean
    vector's COMPONENTS are rounded to ``round_dp`` too, BEFORE the dot
    product — the repo's canonicalization convention for order-dependent
    float aggregates at cross-engine comparison points (see
    quality_model.fit_logistic), letting a SQL oracle reproduce the exact
    doubles.

    Scale shape: one posexplode → (pos)-keyed partial aggregation (dim-
    sized output), a 1-row array assembly broadcast onto a map-only cosine
    pass — the corpus shuffles only (pos, val) pairs, never whole vectors,
    and the second pass is embarrassingly parallel. Zero-norm vectors (and
    a zero-norm mean) yield NULL cosine rather than a division error."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = df.select(F.col(id_col), v.alias("v"))
    pos = e.select(F.posexplode("v").alias("pos", "val"))
    mean = pos.groupBy("pos").agg(F.round(F.avg("val"), round_dp).alias("m"))
    mu = mean.agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
    ).select(F.transform("pm", lambda s: s["m"]).alias("mu"))

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    dot = _dot(F.col("v"), F.col("mu"))
    nv = F.sqrt(_dot(F.col("v"), F.col("v")))
    nm = F.sqrt(_dot(F.col("mu"), F.col("mu")))
    return e.crossJoin(broadcast(mu)).select(
        id_col,
        F.when(
            (nv > 0) & (nm > 0), F.round(dot / (nv * nm), round_dp)
        ).alias("cos_centroid"),
    )


def semdedup_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "label",
    threshold: float = 0.3,
    round_dp: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): within
    each CLUSTER, score all pairs by exact cosine and mark every vector
    that has a higher-similarity-than-``threshold`` twin with a LOWER id
    as prunable (keep-lowest-id, the deterministic keeper rule the dedup
    family uses everywhere). Emits one row per cluster:
    (cluster, n_vectors, n_dup_pairs, n_pruned, prune_rate).

    The clustering stage itself is upstream (p42/p45's k-means loop);
    this operator is the WITHIN-cluster dedup pass that makes semantic
    dedup tractable: pairwise work is confined to one cluster, so with k
    chosen to bound cluster size (SemDeDup's protocol: k grows with the
    corpus so |cluster| stays ~constant) the total cost is linear in the
    corpus, never all-pairs. The join is an equi-join on the cluster id;
    exact cosine runs on the Arrow-batched einsum UDF
    (operators/dedup.cosine_similarity — float64 widening so a SQL
    oracle reproduces the doubles), and the final per-cluster rollup is
    one tiny aggregation. A skewed (oversized) cluster shows up as one
    hot join key — exactly the signal p74's skew profiler reports —
    and the fix at 100 TB is re-clustering with larger k, not salting,
    because pair semantics must stay within-cluster."""
    e = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__i"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__c") == F.col("b.__c")) & (F.col("a.__i") < F.col("b.__i")),
    ).select(
        F.col("a.__c").alias("__c"),
        F.col("b.__i").alias("dup_id"),
        cosine_similarity(F.col("a.__v"), F.col("b.__v")).alias("cos"),
    )
    dups = (
        # threshold the ROUNDED cosine (p35 thresholds raw; rounding first
        # shrinks the cross-engine ulp-at-the-boundary window to
        # |cos - threshold| < 5e-7 AND a summation-order divergence)
        pairs.filter(F.round(F.col("cos"), round_dp) >= F.lit(float(threshold)))
        .groupBy("__c")
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.countDistinct("dup_id").alias("n_pruned"),
        )
    )
    counts = e.groupBy("__c").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        counts.join(dups, "__c", "left")
        .select(
            F.col("__c").alias("cluster"),
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).cast("long").alias("n_pruned"),
            F.round(
                F.coalesce("n_pruned", F.lit(0)).cast("double") / F.col("n_vectors"),
                round_dp,
            ).alias("prune_rate"),
        )
    )


def embedding_norm_qa(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str | None = None,
    sigma: float = 2.0,
) -> DataFrame:
    """Embedding-health report: per-group L2-norm² statistics plus the
    count of norm outliers past mean ± ``sigma``·std — the QA gate an
    embedding pipeline runs before vectors feed ANN/clustering (zero
    vectors = encoder failures; exploding norms = wrong-modality or
    un-normalized rows; both poison cosine math downstream). Complements
    centroid_cosine's DIRECTION audit with the MAGNITUDE audit.

    Determinism: per-row norm² is canonicalized as an exact micro-unit
    bigint (round(dot(v,v)·1e6) — the left-to-right array fold both
    engines share, p35/p82's idiom), so group sums Σnm and Σnm² are exact
    integers; mean/variance/std derive from them through a fixed explicit
    op sequence (never engine-native stddev, whose summation order is
    free) — bit-identical doubles. The outlier comparison pits exact
    integers against those thresholds (the p37 integer-vs-ulp argument).
    Scale shape: map-side fold + ONE group-keyed partial-agg shuffle —
    vectors never shuffle, no joins."""

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nm = F.round(_dot(v, v) * 1e6, 0).cast("long")
    gcols = [cluster_col] if cluster_col else []
    rows = df.filter(F.col(id_col).isNotNull()).select(
        *gcols, nm.alias("nm")
    )
    # outliers need mean/std FIRST: exact integer sums per group, then a
    # second pass over the same rows against the broadcast thresholds
    # ss must not wrap: nm ~1e6 for unit-norm vectors, so nm² ~1e12 and a
    # LONG sum silently overflows past ~9M vectors (Spark non-ANSI wrap)
    # while the DuckDB oracle promotes sum to HUGEINT (ADVICE r9 medium).
    # decimal(20,0) covers the FULL long range — decimal(18,0) would cap
    # nm at 1e18-1 and crash (ANSI) or NULL-drop (non-ANSI) on exactly
    # the exploding-norm rows this gate exists to catch (norm² >= 1e12
    # → nm >= 1e18, r10 review find). Products cap at ~8.5e37, inside
    # the bounded decimal(38,0) multiply result — exact on both engines.
    nm_dec = F.col("nm").cast("decimal(20,0)")
    agg = rows.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(nm_dec).alias("s"),
        F.sum(nm_dec * nm_dec).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_vectors").cast("double")
    var = F.greatest(
        F.col("ss").cast("double") / F.col("n_vectors").cast("double")
        - mean * mean,
        F.lit(0.0),
    )
    stats = agg.select(
        *gcols,
        "n_vectors",
        mean.alias("mean_nm"),
        F.sqrt(var).alias("std_nm"),
    )
    joined = (
        rows.join(F.broadcast(stats), gcols) if gcols
        else rows.crossJoin(F.broadcast(stats))
    )
    lo = F.col("mean_nm") - F.lit(sigma) * F.col("std_nm")
    hi = F.col("mean_nm") + F.lit(sigma) * F.col("std_nm")
    out = joined.groupBy(*gcols).agg(
        F.first("n_vectors").alias("n_vectors"),
        (F.first("mean_nm") / F.lit(1e6)).alias("mean_norm2"),
        (F.first("std_nm") / F.lit(1e6)).alias("std_norm2"),
        (F.min("nm").cast("double") / F.lit(1e6)).alias("min_norm2"),
        (F.max("nm").cast("double") / F.lit(1e6)).alias("max_norm2"),
        F.count(F.when((F.col("nm") < lo) | (F.col("nm") > hi), 1)).alias(
            "n_outliers"
        ),
    )
    if cluster_col:
        out = out.withColumnRenamed(cluster_col, "cluster")
    return out


def sq8_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """Int8 scalar quantization (SQ8) of an embedding column with a
    per-vector reconstruction-error audit — the 4×-memory compression an
    ANN serving tier applies before indexing 100 TB of vectors (FAISS
    ``SQ8`` / Milvus ``SQ8``), and the audit that says whether the
    distortion is tolerable BEFORE the index is built. Per dimension the
    corpus min/max define a linear [0, ``levels``] code; each element is
    quantized, dequantized, and the per-vector mean-squared error and
    max absolute error are reported: ``(id, n_dims, mse, max_abs_err)``.

    Determinism: per-dim min/max of floats involve no summation (exact,
    order-free on both engines). The quantization code uses
    ``floor(v + 0.5)`` — NOT round() — because a linear code hits exact
    decimal halves by construction (that is the q48 round()-divergence
    trap, avoided structurally: floor is bit-deterministic everywhere).
    Per-element squared error is canonicalized as a pico-unit bigint
    (round(e²·1e12): divisions by 255 make exact halves unreachable);
    the per-vector sum of bigints is exact; mse is ONE unrounded
    division of exact-integer doubles (q48 rule); max_abs_err takes an
    integer max over nano-unit bigints then ONE division.

    Scale shape: one posexplode → per-dim partial agg to ``dims`` rows
    (broadcast-sized at any corpus); stats broadcast back onto a second
    map-side pass; ONE id-keyed partial agg. Vectors never shuffle; no
    windows; the two scans are the price of not collecting stats to the
    driver (a production run persists the 64-row stats table)."""
    # r15 optimization (guide §4.1): the element cast used to run inside a
    # ``transform`` lambda — an interpreted higher-order function — BEFORE
    # the explode; casting the exploded scalar instead keeps the whole
    # element stream in whole-stage codegen. Values identical (same
    # float→double cast per element; NULL vectors still drop at the
    # Generate, NULL elements still cast to NULL).
    el = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)),
    ).select(
        id_col,
        F.col("pos").alias("dim"),
        F.col("col").cast("double").alias("x"),
    )
    stats = el.groupBy("dim").agg(
        F.min("x").alias("dmin"), F.max("x").alias("dmax")
    )
    lv = F.lit(float(levels))
    rng = F.col("dmax") - F.col("dmin")
    q = F.when(rng == 0, F.lit(0)).otherwise(
        F.least(
            lv,
            F.greatest(
                F.lit(0.0),
                F.floor((F.col("x") - F.col("dmin")) * lv / rng + F.lit(0.5))
                .cast("double"),
            ),
        )
    )
    xhat = F.col("dmin") + q * rng / lv
    e = F.col("x") - xhat
    joined = el.join(broadcast(stats), "dim").select(
        id_col,
        F.round(e * e * F.lit(1e12), 0).cast("long").alias("e2_pico"),
        F.round(F.abs(e) * F.lit(1e9), 0).cast("long").alias("ae_nano"),
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dims"),
        (
            F.sum("e2_pico").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e12))
        ).alias("mse"),
        (F.max("ae_nano").cast("double") / F.lit(1e9)).alias("max_abs_err"),
    )


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dims: int = 16,
    in_dims: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a DETERMINISTIC sign
    matrix (Achlioptas 2003: entries +/-1 preserve pairwise distances in
    expectation like Gaussians do): ``y_k = SUM_j x_j * s(k,j) / sqrt(K)``
    with ``s(k,j) = +/-1`` from the parity of the first-8-hex md5 of
    ``k || '_' || j`` — the repo's cross-engine hash idiom, so the matrix
    is reproducible anywhere (no RNG state to ship). The 4x
    dimensionality cut (64->16) is what makes a brute-force or IVF pass
    over 100 TB of vectors 4x cheaper; the JL bound says pairwise
    geometry survives. Output is LONG FORM ``(id, k, y)``.

    The sign matrix is a PLAN-TIME CONSTANT: it depends only on (k, j),
    so it is materialized here driver-side (1024 ints for 64->16 —
    hashlib.md5 == every engine's md5, pinned by the SQL oracle, which
    re-derives the matrix from md5 in-database, and by the numpy
    reference test). That makes the whole projection MAP-ONLY: ONE
    Arrow-batched exact int64 numpy matmul per batch against the
    closure-held sign matrix, a 16-element posexplode, ZERO shuffles,
    zero joins — nothing at all crosses the wire at any corpus size
    (the r13 bench rewrite: the first cut exploded to N*D rows and
    broadcast-joined the matrix, paying an N*K-row shuffle for numbers
    a per-row kernel computes in place).

    r15 optimization (guide §4.2, the r14 PQ-rewrite data point repeated
    here): the K folds were ``aggregate(zip_with(...))`` higher-order
    functions, which Catalyst evaluates INTERPRETED — ~K·2·D ≈ 2048
    lambda ops per row outside codegen; measured 1.96 s at sf0.1 (2 k
    vectors!) / 2.71 s at sf1 vs DuckDB's 0.28/3.77. The Arrow kernel
    does one (B, D) @ (D, K) int64 matmul per batch — exact integer
    arithmetic, so the fold results are bit-identical (integer addition
    commutes; numpy int64 matmul is exact at these magnitudes: |term| ≤
    2e6·1, D = 64 → |y| ≤ 1.3e8 ≪ 2^63). NULL elements and short
    vectors are zero-padded in Spark BEFORE the boundary (coalesce +
    array_repeat — exactly the old fold's ``coalesce(x*s, 0)`` and
    zip_with NULL-pad semantics), so the kernel sees fixed-length
    non-null rows. Trade-off (ADVICE r15): the operator is no longer
    pure-JVM — tiny inputs pay Python-worker startup once per session
    stage shape; the interpreted-HOF fold it replaced was ~7× slower at
    every measured size, but a caller that needs a Python-free plan
    (e.g. a JVM-only deployment) should fold with the HOF form instead.

    Determinism: elements are canonicalized as micro-unit bigints
    (round(x*1e6) of float-exact doubles — no arithmetic before the
    round); each output coordinate is an exact +/--signed INTEGER fold
    (integer addition commutes — any evaluation order agrees);
    ``y = sum / 1e6 / sqrt(K)`` is two divisions of an exact-integer
    double by exact constants (sqrt(K) a single IEEE sqrt), deliberately
    unrounded (q48 rule).

    ``in_dims`` should equal the embedding dimensionality. Mismatches
    follow the numpy reference's truncation semantics (S[:, :len(x)]):
    longer vectors are truncated to ``in_dims`` (an explicit F.slice —
    zip_with alone would NULL-pad the shorter SIGNS side), and shorter
    vectors contribute only their own terms (the missing dimensions'
    NULL products coalesce to 0, never propagating NULL to the fold)."""
    import hashlib

    signs = [
        [
            1
            if int(hashlib.md5(f"{k}_{j}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1
            for j in range(in_dims)
        ]
        for k in range(out_dims)
    ]
    SM_T = np.asarray(signs, dtype=np.int64).T  # (D, K)
    xm = F.transform(
        F.slice(F.col(vec_col), 1, in_dims),
        lambda x: F.round(x.cast("double") * F.lit(1e6), 0).cast("long"),
    )
    # fixed-length, non-null rows for the Arrow kernel: NULL elements
    # contribute 0 (the old fold's coalesce(x*s, 0)) and short vectors
    # zero-pad (the old zip_with NULL-pad + coalesce — missing dims
    # contribute only 0 terms)
    xmp = F.concat(
        F.transform("__xm", lambda v: F.coalesce(v, F.lit(0).cast("long"))),
        F.array_repeat(
            F.lit(0).cast("long"), F.lit(in_dims) - F.size("__xm")
        ),
    )

    @arrow_udf(ArrayType(LongType()))
    def jl_fold(x: pa.Array) -> pa.Array:
        # a NULL vector must yield an array of K NULL folds (the old
        # F.array-of-NULL-aggregates shape: posexplode then emits K rows
        # with y NULL — the dirty-data parity sweeps pin this)
        X, rows, _ = vectors.fixed(x, in_dims, np.int64)
        return vectors.lists(X @ SM_T, rows, len(x), fill="nulls")  # exact int64

    return (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), xm.alias("__xm"))
        .select(F.col(id_col), jl_fold(xmp).alias("__y"))
        .select(F.col(id_col), F.posexplode("__y"))
        .select(
            id_col,
            F.col("pos").cast("int").alias("k"),
            (
                F.col("col").cast("double")
                / F.lit(1e6)
                / F.sqrt(F.lit(float(out_dims)))
            ).alias("y"),
        )
    )


def mine_triplets(
    corpus: DataFrame,
    anchors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard triplet mining over a labeled embedding corpus (FaceNet,
    Schroff et al. 2015 — the batch-hard recipe contrastive/metric
    training data is built from): for every ANCHOR vector, the hardest
    POSITIVE (same label, LOWEST cosine — the far-away true match) and
    the hardest NEGATIVE (different label, HIGHEST cosine — the
    confusable impostor), plus the margin between them. Anchors with no
    same-label (or no other-label) partner report NULLs, not dropped.

    Returns (anchor_id, label, pos_id, pos_sim, neg_id, neg_sim,
    margin).

    Scale shape (the brute_force_topk machinery — r13 rewrite after the
    sf1 lane measured the first cut's per-pair cosine UDF at 63 s vs
    6 s: a broadcast join fanning to |corpus|·|anchors| rows, each
    paying a row-wise Python cosine): the anchors are COLLECTED
    driver-side (bounded by contract — the mining slice; the same
    bounded-collect as brute_force_topk, loud error past the cap), and
    every corpus row scores against ALL anchors in ONE
    (batch × d) @ (d × A) float64 matmul per Arrow batch. The corpus
    never shuffles embeddings — and since r16 the kernel also FOLDS the
    per-anchor argmin/argmax itself (guide §2.3, the _pq_lloyd
    partial-fold precedent), emitting only a banded per-batch candidate
    shortlist (~|anchors|·(ties+3) rows per batch) instead of
    posexploding |corpus|×|anchors| scalar rows through the JVM partial
    aggregate (50 M rows at the sf1 lane — measured 2.2 s → 1.8 s there;
    the structural win grows with corpus×anchors, which is the point at
    100 TB). The
    band is exact, not approximate — see the inline note at the kernel.
    Argmin/argmax via struct ordering, not max_by (tie-nondeterministic):
    positive = min(sim, id); negative = max(sim, -id). Cosine is
    dot/(|c|·|q|) in float64 — p05's oracle-parity formulation —
    canonicalized at 6 dp as micro-unit integers, so sims/margins are
    exact-integer-derived doubles (unrounded final divisions, q48)."""
    arows = _collect_side(
        anchors, "mine_triplets", id_col, vec_col, label_col, side="anchors"
    )
    spark = corpus.sparkSession
    if not arows:
        return spark.createDataFrame(
            [],
            "anchor_id long, label int, pos_id long, pos_sim double, "
            "neg_id long, neg_sim double, margin double",
        )
    a_ids = [r[0] for r in arows]
    a_labels = [r[2] for r in arows]
    Am = np.asarray([r[1] for r in arows], dtype=np.float64)  # (A, d)
    At = np.ascontiguousarray(Am.T)  # (d, A)
    an = np.maximum(np.linalg.norm(Am, axis=1), 1e-12)  # (A,)
    a_id_arr = np.asarray(a_ids, dtype=np.int64)
    al_ok = np.asarray([x is not None for x in a_labels])
    al_arr = np.asarray([x or 0 for x in a_labels], dtype=np.int64)

    # r16 (guide §2.3, the _pq_lloyd partial-fold precedent): the old
    # shape posexploded |corpus|×|anchors| scalar rows (50 M at the sf1
    # lane) through the JVM partial min/max aggregate. The kernel now
    # folds per-anchor candidates ITSELF and emits only a bounded
    # shortlist per batch: for each anchor, every same-label row within
    # 2 micro-units of the batch-min finite similarity (kind 1), every
    # different-label row within 2 of the batch-max (kind 2), every
    # non-finite one (the JVM orders NaN greatest, as for brute_force_topk),
    # plus one presence marker per anchor per partition (kind 0 — an
    # anchor with candidates in neither class must still appear, with NULL
    # pos/neg). The band is EXACT, not approximate: the JVM re-derives
    # __nm = round(sim·1e6) from the pass-through float64 sim and takes
    # the true struct min/max over the shortlist — a row excluded by the
    # band is > 1 full micro-unit away from the batch extreme, so its
    # HALF_UP-rounded __nm can never tie the extreme's (rounding moves a
    # value by at most 0.5+ulp). Ties (replicated vectors) all fall
    # inside the band and keep the deterministic (nm, cand_id) break.
    def _fold(batches):
        for rb in batches:
            M, rows, _ = vectors.fixed(rb.column("__vec"), At.shape[0])
            if not len(rows):
                continue
            cn = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            S = (M @ At) / (cn * an[None, :])  # (B, A) float64
            Y = S * 1e6  # the exact double the JVM rounds
            fin = np.isfinite(Y)
            cid = rb.column("cand_id").to_numpy()[rows].astype(np.int64)
            lbl = rb.column("__cl")
            cl_ok = np.asarray(lbl.is_valid())[rows]
            cl = np.asarray(lbl.fill_null(0), dtype=np.int64)[rows]
            not_self = cid[:, None] != a_id_arr[None, :]  # (B, A)
            lbl_both = cl_ok[:, None] & al_ok[None, :]
            same = lbl_both & (cl[:, None] == al_arr[None, :]) & not_self
            diff = lbl_both & (cl[:, None] != al_arr[None, :]) & not_self
            out_a, out_k, out_i, out_s = [], [], [], []
            # the hardest positive minimises Y, the hardest negative
            # maximises it: band both as minima of sign·Y (negation is exact)
            for mask, kind, sign in ((same, 1, 1.0), (diff, 2, -1.0)):
                if not mask.any():
                    continue
                Z = sign * Y
                edge = np.where(mask & fin, Z, np.inf).min(axis=0)
                keep = mask & (~fin | (Z <= edge[None, :] + 2.0))
                r, a = np.nonzero(keep)
                out_a.append(a)
                out_k.append(np.full(len(a), kind, dtype=np.int32))
                out_i.append(cid[r])
                out_s.append(S[r, a])
            # presence: one marker per anchor with >= 1 valid non-self row
            pres = np.nonzero(not_self.any(axis=0))[0]
            out_a.append(pres)
            out_k.append(np.zeros(len(pres), dtype=np.int32))
            out_i.append(np.zeros(len(pres), dtype=np.int64))
            out_s.append(np.zeros(len(pres), dtype=np.float64))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_a).astype(np.int32)),
                    pa.array(np.concatenate(out_k)),
                    pa.array(np.concatenate(out_i)),
                    pa.array(np.concatenate(out_s)),
                ],
                names=["apos", "kind", "cand_id", "sim"],
            )

    lbl_arr = F.array(
        *[
            F.lit(x).cast("int") if x is not None else F.lit(None).cast("int")
            for x in a_labels
        ]
    )
    id_arr = F.array(*[F.lit(x) for x in a_ids])
    shortlist = (
        ensure_parallelism(corpus)
        .filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("cand_id"),
            F.col(label_col).alias("__cl"),
            F.col(vec_col).alias("__vec"),
        )
        .mapInArrow(
            _fold, schema="apos int, kind int, cand_id long, sim double"
        )
    )
    scored = shortlist.select(
        F.element_at(id_arr, F.col("apos") + 1).alias("anchor_id"),
        F.element_at(lbl_arr, F.col("apos") + 1).alias("label"),
        "kind",
        "cand_id",
        # a double, not a bigint: NaN must order greatest, not overflow
        # the cast (finite values are exact integers either way)
        F.round(F.col("sim") * F.lit(1e6), 0).alias("__nm"),
    )
    pos = F.min(
        F.when(F.col("kind") == 1, F.struct(F.col("__nm"), F.col("cand_id")))
    )
    neg = F.max(
        F.when(
            F.col("kind") == 2,
            F.struct(F.col("__nm"), (-F.col("cand_id")).alias("nid")),
        )
    )
    g = scored.groupBy("anchor_id").agg(
        F.first("label").alias("label"),
        pos.alias("__p"),
        neg.alias("__n"),
    )
    return g.select(
        "anchor_id",
        "label",
        F.col("__p.cand_id").alias("pos_id"),
        (F.col("__p.__nm") / F.lit(1e6)).alias("pos_sim"),
        (-F.col("__n.nid")).alias("neg_id"),
        (F.col("__n.__nm") / F.lit(1e6)).alias("neg_sim"),
        ((F.col("__p.__nm") - F.col("__n.__nm")) / F.lit(1e6)).alias("margin"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — FAISS-style subvector k-means codebooks
# ---------------------------------------------------------------------------


def _pq_assign_udf(
    code: dict[tuple[int, int], list[int]], m: int, sub_dims: int, k: int
):
    """Arrow-batched numpy PQ assignment: xm (array<long>, m*sub_dims
    micro ints) → a 2m-long array [cid_0..cid_{m-1}, err_0..err_{m-1}].

    Measured justification over the built-in higher-order-function form
    (the repo's UDF policy): the first cut computed m·k zip_with+
    aggregate folds per row — Catalyst evaluates higher-order functions
    INTERPRETED, outside whole-stage codegen, so ~512 lambda ops/row
    measured 7.7 s (train) / 13.1 s (encode) at sf0.1 in the r14 bench
    vs DuckDB's 0.5/0.8 s. This form does ONE int64 broadcast-subtract/
    square/sum + argmin per Arrow batch against the (m,k,sub_dims)
    codebook held in the closure.

    Exactness is unchanged: inputs are already micro-int canonicalized
    (int64 arithmetic is exact — max term (2e6)²·16 ≈ 6.4e13 ≪ 2^63),
    and ``np.argmin`` returns the FIRST minimum, which is exactly the
    (dist, cid) lexicographic tie-break of the struct-min form and of
    the SQL oracle's ``row_number() OVER (ORDER BY dist, cid)``."""
    C = np.zeros((m, k, sub_dims), dtype=np.int64)
    for (s, cid), vals in code.items():
        C[s, cid] = vals

    @arrow_udf(ArrayType(LongType()))
    def assign(xm: pa.Array) -> pa.Array:
        X, _, _ = vectors.fixed(xm, m * sub_dims, np.int64)
        X = X.reshape(len(X), m, 1, sub_dims)
        D = ((X - C[None]) ** 2).sum(axis=3)  # (batch, m, k), exact int64
        cids = D.argmin(axis=2)  # first min == lowest cid on ties
        errs = np.take_along_axis(D, cids[:, :, None], axis=2)[:, :, 0]
        return vectors.lists(np.concatenate([cids, errs], axis=1))

    return assign


def _pq_base(
    df: DataFrame, vec_col: str, id_col: str, d: int,
    out_id: str = "vec_id",
) -> DataFrame:
    """The shared PQ micro-int base: ``(out_id, xm array<long>)`` with
    exactly ``d`` non-NULL micro-int elements per row. ONE definition
    (ADVICE r15): _pq_fit and ivfpq_topk used to inline identical
    copies — any drift between them silently diverges seed sharing via
    _pq_seed_rows from the oracle.

    NULL elements inside a right-sized vector would pass the size gate
    but crash np.asarray(..., int64) inside the assign UDF with an
    opaque executor error — drop them here (the jl_project
    non-null-element contract, r15 advice fix)."""
    xm = F.transform(
        F.slice(F.col(vec_col), 1, d),
        lambda x: F.round(x.cast("double") * F.lit(1e6), 0).cast("long"),
    )
    return (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col).alias(out_id), xm.alias("xm"))
        .filter(F.size("xm") == d)
        .filter(F.size(F.filter("xm", lambda v: v.isNull())) == 0)
    )


def _pq_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    sub_dims: int,
    k: int,
    n_iters: int,
) -> tuple[DataFrame, dict[tuple[int, int], list[int]]]:
    """Shared PQ trainer: returns (base, codebook) where base is the
    micro-int vector table ``(id, xm array<long>)`` and codebook maps
    ``(subspace, cid) -> sub_dims micro ints`` after ``n_iters`` Lloyd
    steps. See pq_train for the full contract; the two driver-side
    collects here are BOUNDED BY CONSTRUCTION (k seed rows; m*k*sub_dims
    = e.g. 512 codebook stat rows per iteration) — the same
    bounded-by-contract class as the bigram-model and ANN anchor
    collects, never corpus-scale."""
    base = _pq_base(df, vec_col, id_col, m * sub_dims)
    return base, _pq_lloyd(base, m, sub_dims, k, n_iters)


def _pq_seed_rows(base: DataFrame, k: int) -> list:
    """The k PQ seed rows: smallest (first-8-hex-md5(vec_id), vec_id) —
    a bounded TakeOrdered collect (k rows). Shared so IVF-PQ's two fits
    reuse ONE collect (the seed ordering depends only on vec_id)."""
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        base.select("vec_id", h.alias("__h"), "xm")
        .orderBy("__h", "vec_id")
        .limit(k)
        .collect()  # bounded: k rows (the PQ seed set)
    )


def _pq_lloyd(
    base: DataFrame,
    m: int,
    sub_dims: int,
    k: int,
    n_iters: int,
    pre=None,
    seed_rows: list | None = None,
) -> dict[tuple[int, int], list[int]]:
    """The seeded Lloyd loop over a prepared micro-int base
    ``(vec_id, xm array<long>)``: k smallest first-8-hex-md5(vec_id)
    seeds, ``n_iters`` steps of Arrow-argmin assignment + a bounded
    (≤ m·k·sub_dims-key) partial-agg fold, empty clusters carrying
    their previous centroid. Extracted from _pq_fit (r15) so IVF-PQ can
    run the IDENTICAL machinery on RESIDUAL vectors — the same
    seeding/tie/floor rules the SQL oracles unroll.

    ``pre`` (r15 optimization): an optional exact-int64 numpy transform
    ``(B, d_in) -> (B, m*sub_dims)`` applied INSIDE the stats kernel
    (and to the seed matrix driver-side). IVF-PQ passes the
    cell-assign-and-subtract residual map here, so its residual fit
    reads the PURE-JVM base instead of chaining a UDF into the stats
    map — a chained ArrowEvalPython → MapInArrow stage cannot fuse into
    one Python runner (consecutive Arrow UDFs can)
    and measured a 26.7 s first-run / 4.2 s-per-job penalty at the sf1
    lane. Same math, same argmin tie-breaks, zero extra corpus passes.
    ``seed_rows``: pre-collected _pq_seed_rows(base, >=k) so callers
    running several fits over the SAME base pay ONE seed job."""
    import math

    from pyspark import StorageLevel

    # r16 (guide §5, the bpe_train precedent): every iteration's job
    # re-derived the IDENTICAL micro-int base — at sf0.1 a single-task
    # scan through three interpreted-HOF passes (slice/round transform,
    # size gate, null-element gate) measured ~0.7 s of each ~1.0 s
    # iteration. Persist it for the fit's duration (evictable
    # MEMORY_AND_DISK, recompute-safe) and release it before returning —
    # nothing accumulates across calls. A base the CALLER already
    # persisted (IVF-PQ shares one base across two fits) is left alone.
    own_persist = base.storageLevel == StorageLevel(False, False, False, False)
    if own_persist and n_iters > 0:
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _pq_lloyd_impl(base, m, sub_dims, k, n_iters, pre, seed_rows)
    finally:
        if own_persist and n_iters > 0:
            try:
                base.unpersist(blocking=False)
            except Exception:
                pass


def _pq_lloyd_impl(
    base: DataFrame,
    m: int,
    sub_dims: int,
    k: int,
    n_iters: int,
    pre=None,
    seed_rows: list | None = None,
) -> dict[tuple[int, int], list[int]]:
    import math

    seeds = (
        seed_rows[:k] if seed_rows is not None else _pq_seed_rows(base, k)
    )
    if not seeds:
        # empty input (empty shard, filter matched nothing) → empty
        # codebook, never a crash; the oracle's CTE chain yields empty too
        return {}
    if len(seeds) < k:
        raise ValueError(
            f"PQ training needs at least k={k} vectors with "
            f"{m * sub_dims} dims (got {len(seeds)})"
        )
    seed_mat = np.asarray([list(r["xm"]) for r in seeds], dtype=np.int64)
    d_in = seed_mat.shape[1]  # the base's fixed width (before ``pre``)
    if pre is not None:
        seed_mat = pre(seed_mat)
    code: dict[tuple[int, int], list[int]] = {}
    for cid in range(k):
        for s in range(m):
            code[(s, cid)] = [
                int(v) for v in seed_mat[cid, s * sub_dims:(s + 1) * sub_dims]
            ]

    n_base_parts = base.rdd.getNumPartitions() if n_iters > 0 else 0
    for _ in range(n_iters):
        # r15 optimization (guide §2.3 "aggregate before you shuffle",
        # taken to the limit: aggregate before leaving the Arrow kernel).
        # The old fold exploded every vector into m structs and then
        # sub_dims positions — corpus × m × sub_dims rows (1.28M at the
        # sf1 lane's 20k vectors) through a hash aggregate — to compute a
        # 512-row codebook fold. The assign kernel already holds the
        # batch matrix, so it now folds the per-(subspace, cid, pos)
        # sums/counts itself (np.add.at — exact int64, addition commutes,
        # so totals are bit-identical to the exploded groupBy) and emits
        # at most m*k*sub_dims partial rows PER PARTITION; the groupBy
        # below collapses those to the same <= m*k*sub_dims totals. At
        # any corpus size the shuffle carries |partitions| * 512 tiny
        # rows instead of corpus * 64.
        C = np.zeros((m, k, sub_dims), dtype=np.int64)
        for (s, cid), vals in code.items():
            C[s, cid] = vals

        def _partial_stats(it):
            sx = np.zeros((m, k, sub_dims), dtype=np.int64)
            n = np.zeros((m, k), dtype=np.int64)
            seen = False
            for rb in it:
                X, _, _ = vectors.fixed(rb.column("xm"), d_in, np.int64)
                if not len(X):
                    continue
                seen = True
                if pre is not None:
                    X = pre(X)  # e.g. IVF residuals — exact int64
                X = X.reshape(len(X), m, 1, sub_dims)
                D = ((X - C[None]) ** 2).sum(axis=3)  # exact int64
                cids = D.argmin(axis=2)  # (B, m) — first-min tie-break
                Xs = X[:, :, 0, :]  # (B, m, sub_dims)
                for s in range(m):
                    np.add.at(sx[s], cids[:, s], Xs[:, s, :])
                    np.add.at(n[s], cids[:, s], 1)
            if not seen:
                return
            s_i, c_i = np.nonzero(n)  # only observed (subspace, cid) groups
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(s_i, sub_dims).astype(np.int32)),
                    pa.array(np.repeat(c_i, sub_dims).astype(np.int32)),
                    pa.array(np.tile(np.arange(sub_dims, dtype=np.int32), len(s_i))),
                    pa.array(sx[s_i, c_i].ravel()),
                    pa.array(np.repeat(n[s_i, c_i], sub_dims)),
                ],
                names=["subspace", "cid", "pos", "sx", "n"],
            )

        partials = base.select("xm").mapInArrow(
            _partial_stats,
            schema="subspace int, cid int, pos int, sx long, n long",
        )
        # r16 (guide §2.4): each iteration's fold emits <= m·k·sub_dims
        # rows PER PARTITION. Below ~64 input partitions the whole
        # partial set is a bounded <= 32k-row collect, and summing it
        # driver-side (exact int64 addition — bit-identical totals)
        # skips the groupBy's exchange + reduce stage: one stage per
        # iteration instead of two, worth ~0.1-0.2 s × n_iters per fit
        # on scheduling constants alone. Past that, the distributed fold
        # wins (driver work stays O(m·k·sub_dims), not O(partitions)).
        if n_base_parts <= 64:
            totals: dict[tuple[int, int, int], list[int]] = {}
            for r in partials.collect():  # bounded: <= 64 * m*k*sub_dims
                t = totals.setdefault(
                    (r["subspace"], r["cid"], r["pos"]), [0, 0]
                )
                t[0] += r["sx"]
                t[1] += r["n"]
            stats = [
                {"subspace": s, "cid": c, "pos": p, "sx": sx, "n": n}
                for (s, c, p), (sx, n) in totals.items()
            ]
        else:
            stats = (
                partials.groupBy("subspace", "cid", "pos")
                .agg(F.sum("sx").alias("sx"), F.sum("n").alias("n"))
                .collect()  # bounded: <= m*k*sub_dims rows
            )
        new_code = dict(code)  # empty clusters keep their previous centroid
        upd: dict[tuple[int, int], list[int]] = {}
        for r in stats:
            key = (r["subspace"], r["cid"])
            if key not in upd:
                upd[key] = list(code[key])
            # floor(double(sx)/n): Python int/int true division rounds the
            # exact rational to the same IEEE double as SQL's
            # CAST(sum AS DOUBLE)/count at these magnitudes (< 2^53)
            upd[key][r["pos"]] = math.floor(r["sx"] / r["n"])
        new_code.update(upd)
        code = new_code
    return code


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    sub_dims: int = 16,
    k: int = 8,
    n_iters: int = 2,
) -> DataFrame:
    """Product-quantization codebook trainer (Jégou et al. 2011, the
    FAISS ``PQ`` index family): split each vector into ``m`` subvectors
    of ``sub_dims`` dims and run ``n_iters`` Lloyd steps of k-means with
    ``k`` centroids INDEPENDENTLY per subspace. PQ is the memory-scale
    path past SQ8 (p115): m=4, k=8 stores each vector in m*log2(k) = 12
    bits instead of 64 floats — the compression that lets an ANN serving
    tier hold 100 TB of vectors' codes in RAM. Returns the codebook in
    long form ``(subspace, cid, j, c_micro)`` — m*k*sub_dims rows.

    Determinism (cross-engine, hash-graded): elements are canonicalized
    as micro-unit bigints FIRST (the p116 idiom); seeds are the k
    vectors with the smallest first-8-hex-md5(vec_id) (ties by vec_id —
    the repo's deterministic-init idiom, no RNG); distances are exact
    bigint sums of squared integer differences; assignment ties break
    (dist, cid) lexicographically via struct array_min; new centroids
    are floor(sum/count) — floor of one exact-integer double division,
    never round() (the q48 trap); empty clusters keep their previous
    centroid on BOTH engines (oracle: LEFT JOIN + COALESCE).

    Scale shape: the codebook is TINY by construction (m*k*sub_dims
    rows), so it lives driver-side between iterations (bounded-by-
    contract collects, documented in _pq_fit) and each Lloyd step is ONE
    corpus map pass (assignment = ONE Arrow-batched numpy
    subtract/square/sum/argmin against the closure-held codebook — see
    _pq_assign_udf for the measured justification over the interpreted
    HOF-fold form; zero joins) plus ONE partial-aggregated shuffle
    bounded at m*k*sub_dims reduce keys. Vectors never shuffle;
    n_iters+0 corpus passes total. The SQL oracle unrolls the same two
    Lloyd steps as CTEs over the same micro-int encoding (the p65
    unrolled-iteration precedent)."""
    base, code = _pq_fit(df, vec_col, id_col, m, sub_dims, k, n_iters)
    spark = base.sparkSession
    rows = [
        (s, cid, j, int(code[(s, cid)][j]))
        for s in range(m)
        for cid in range(k)
        for j in range(sub_dims)
        if (s, cid) in code
    ]
    return spark.createDataFrame(
        rows, "subspace int, cid int, j int, c_micro long"
    )


def pq_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    sub_dims: int = 16,
    k: int = 8,
    n_iters: int = 2,
) -> DataFrame:
    """Encode every vector under the pq_train codebook and audit the
    quantization error: ``(vec_id, subspace, cid, sq_err_micro2)`` —
    one row per (vector, subspace), cid the nearest final centroid and
    sq_err_micro2 the exact bigint squared L2 distance in micro² units
    (the per-subspace distortion FAISS's PQ training reports). The
    corpus-level mean of sq_err over subspaces is the PQ twin of p115's
    SQ8 mse — together they answer which compression the serving tier
    can afford.

    Scale shape: after the bounded codebook fit (see pq_train), the
    encode pass is MAP-ONLY — ONE Arrow-batched numpy argmin per batch
    (_pq_assign_udf), an m-element explode, zero joins, zero shuffles;
    nothing crosses the wire at any corpus size. Determinism: identical
    to pq_train (exact int64 distances, first-min == (dist, cid) ties)."""
    base, code = _pq_fit(df, vec_col, id_col, m, sub_dims, k, n_iters)
    if not code:  # empty input → empty encoding, never a crash
        return base.sparkSession.createDataFrame(
            [], "vec_id long, subspace int, cid int, sq_err_micro2 long"
        )
    assign = _pq_assign_udf(code, m, sub_dims, k)
    return (
        base.select("vec_id", assign("xm").alias("__a"))
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("subspace"),
                            F.element_at("__a", s + 1)
                            .cast("int")
                            .alias("cid"),
                            F.element_at("__a", m + s + 1).alias(
                                "sq_err_micro2"
                            ),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("a"),
        )
        .select(
            "vec_id",
            F.col("a.subspace").alias("subspace"),
            F.col("a.cid").alias("cid"),
            F.col("a.sq_err_micro2").alias("sq_err_micro2"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    query_id: str = "vec_id",
    m: int = 4,
    sub_dims: int = 16,
    kc: int = 8,
    n_iters: int = 2,
    _qrows: list | None = None,
) -> DataFrame:
    """PQ serving-side search: asymmetric distance computation (ADC —
    Jégou et al. 2011 §IV-A, FAISS ``IndexPQ.search``). Trains the
    pq_train codebook, then for each query vector builds the m×kc
    lookup table of EXACT int64 squared L2 distances between the
    query's subvectors and every centroid; each corpus vector is scored
    through its CODES only — ``dist = Σ_s LUT[s, code_s]`` — never
    through its floats. This is the query path the 12-bit codes exist
    for: the serving tier holds codes + codebook in RAM, not vectors.
    Returns ``(query_id, neighbor_id, adc_dist_micro2, nn_rank)`` with
    per-query top-k by ``(dist ASC, neighbor_id ASC)``; self-matches
    are excluded (the brute_force_topk convention, so recall against
    the exact anchor is comparable).

    Scale shape: after the bounded codebook fit (pq_train's contract),
    ONE map-only corpus pass — a single Arrow-batched numpy kernel per
    batch does assign (argmin) AND ADC scoring (LUT gather + sum) with
    zero joins and zero corpus shuffles; the only exchange is the
    final per-query top-k window, hash-partitioned on the BOUNDED
    query set (the same contract as brute_force_topk: queries collect
    driver-side, capped by SPARK_GRAFT_BRUTE_MAX_QUERIES). Determinism
    (hash-gradable): all-integer micro² distances; np.argmin first-min
    == (dist, cid) ties; top-k ties break on neighbor_id."""
    base, code = _pq_fit(corpus, corpus_vec, corpus_id, m, sub_dims, kc, n_iters)
    spark = corpus.sparkSession
    empty = "query_id long, neighbor_id long, adc_dist_micro2 long, nn_rank int"
    if not code:
        return spark.createDataFrame([], empty)
    C = np.zeros((m, kc, sub_dims), dtype=np.int64)
    for (s, cid), vals in code.items():
        C[s, cid] = vals

    if _qrows is None:
        # query vectors ride the IDENTICAL Spark-side micro-int
        # canonicalization as the corpus (F.round HALF_UP — a driver-side
        # Python round() would banker's-round and diverge on exact halves);
        # pq_rerank_topk passes its already-collected rows instead
        qb = _pq_base(queries, query_vec, query_id, m * sub_dims, out_id="qid")
        _qrows = _collect_side(qb, "pq_topk", "qid", "xm")
    if not _qrows:
        return spark.createDataFrame([], empty)
    qids = [r[0] for r in _qrows]
    Q = np.asarray([r[1] for r in _qrows], dtype=np.int64).reshape(
        len(qids), m, 1, sub_dims
    )
    # (Q, m, kc): exact int64 squared L2 between query subvectors and
    # every centroid — max term (2e6)^2 * 16 ≈ 6.4e13 * kc ≪ 2^63
    LUT = ((Q - C[None]) ** 2).sum(axis=3)

    @arrow_udf(ArrayType(LongType()))
    def adc(xm: pa.Array) -> pa.Array:
        X, _, _ = vectors.fixed(xm, m * sub_dims, np.int64)
        X = X.reshape(len(X), m, 1, sub_dims)
        D = ((X - C[None]) ** 2).sum(axis=3)  # (B, m, kc)
        codes = D.argmin(axis=2)  # (B, m) — first-min tie-break
        # ADC gather: dist[b, q] = Σ_s LUT[q, s, codes[b, s]]
        out = np.zeros((len(X), len(qids)), dtype=np.int64)
        for s in range(m):
            out += LUT[:, s, :][:, codes[:, s]].T  # (B, Q)
        return vectors.lists(out)

    scored = (
        base.select(F.col("vec_id").alias("neighbor_id"), "xm")
        .select("neighbor_id", F.posexplode(adc(F.col("xm"))).alias("qpos", "d"))
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in qids]), F.col("qpos") + 1
            ).alias("query_id"),
            "neighbor_id",
            F.col("d").alias("adc_dist_micro2"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist_micro2", "neighbor_id")
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist_micro2", "nn_rank")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    query_id: str = "vec_id",
    m: int = 4,
    sub_dims: int = 16,
    kc: int = 8,
    n_iters: int = 2,
) -> DataFrame:
    """Two-stage PQ serving search (the FAISS ``IndexRefineFlat``
    pattern): stage 1 is pq_topk's ADC scan over the 12-bit codes with
    ``shortlist`` (R ≫ k) candidates per query; stage 2 re-ranks ONLY
    those R candidates with the EXACT int64 squared L2 on the full
    micro-int vectors and returns the top ``k``. This is how a real
    serving tier recovers exactness from lossy codes: the corpus-wide
    pass touches codes only (RAM-resident at 100 TB), and full vectors
    are fetched for Q×R rows — thousands, not billions.

    Returns ``(query_id, neighbor_id, l2_dist_micro2, nn_rank)``; the
    rank is by exact distance, ties on neighbor_id; self-matches
    excluded (inherited from stage 1).

    Scale shape: stage 1 is p124's plan (map-only scoring + the bounded
    per-query top-R window with rank-limit pushdown). Stage 2 joins the
    Q×R shortlist — BOUNDED BY CONTRACT, broadcast side — back to the
    corpus vectors on the id (one broadcast hash join, no corpus
    shuffle), computes the exact distance in ONE Arrow numpy kernel per
    batch against the closure-held query matrix, and takes the final
    top-k on the bounded result. Determinism: every number is an exact
    int64; both stages tie-break on neighbor_id."""
    spark = corpus.sparkSession
    empty = "query_id long, neighbor_id long, l2_dist_micro2 long, nn_rank int"
    d = m * sub_dims
    # build the query micro-int matrix ONCE (same canonicalization, same
    # bounded-collect contract) and SHARE it with stage 1 — the old shape
    # ran two identical bounded-collect jobs (r15)
    qb = _pq_base(queries, query_vec, query_id, d, out_id="qid")
    qrows = _collect_side(qb, "pq_rerank_topk", "qid", "xm")
    if not qrows:
        return spark.createDataFrame([], empty)
    cand = pq_topk(
        corpus, queries, k=shortlist, corpus_vec=corpus_vec,
        corpus_id=corpus_id, query_vec=query_vec, query_id=query_id,
        m=m, sub_dims=sub_dims, kc=kc, n_iters=n_iters, _qrows=qrows,
    ).select("query_id", "neighbor_id")
    qpos = {r[0]: i for i, r in enumerate(qrows)}
    Qm = np.asarray([r[1] for r in qrows], dtype=np.int64)  # (Q, d)

    @arrow_udf(LongType())
    def exact_d(qp: pa.Array, xm: pa.Array) -> pa.Array:
        X, _, _ = vectors.fixed(xm, d, np.int64)
        return pa.array(((X - Qm[np.asarray(qp)]) ** 2).sum(axis=1))

    # base vectors for the candidates only: broadcast the bounded Q×R
    # shortlist into the corpus scan — no corpus shuffle. The shared PQ
    # base keeps only clean d-element rows, like stage 1's.
    base = _pq_base(corpus, corpus_vec, corpus_id, d, out_id="neighbor_id")
    qpos_map = F.create_map(
        *[x for q, i in qpos.items() for x in (F.lit(q), F.lit(i))]
    )
    joined = base.join(broadcast(cand), "neighbor_id").select(
        "query_id", "neighbor_id",
        exact_d(
            F.element_at(qpos_map, F.col("query_id")), F.col("xm")
        ).alias("l2_dist_micro2"),
    )
    w = Window.partitionBy("query_id").orderBy("l2_dist_micro2", "neighbor_id")
    return (
        joined.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "l2_dist_micro2", "nn_rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    n_cells: int = 8,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    query_id: str = "vec_id",
    m: int = 4,
    sub_dims: int = 16,
    kc: int = 8,
    n_iters: int = 2,
) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011 §V; FAISS ``IndexIVFPQ``) — the
    canonical 100 TB ANN serving index, composed from this module's own
    deterministic parts:

    1. COARSE QUANTIZER: k-means with ``n_cells`` centroids over the
       FULL micro-int vectors — literally ``_pq_fit(m=1,
       sub_dims=d)``, the same seeded/tied/floored Lloyd machinery.
    2. RESIDUAL PQ: every vector's residual ``x − c_cell`` (exact
       int64) is PQ-encoded with an ``m×kc`` codebook trained by the
       SAME ``_pq_lloyd`` loop on the residuals — FAISS's residual
       encoding, which is what makes 12-bit codes usable: residuals
       are small, so the codebook spends its bits near zero.
    3. QUERY: each query probes its ``n_probe`` nearest cells; per
       probed cell an ADC LUT over the query's OWN residual scores
       candidates THROUGH THEIR CODES ONLY — exactly
       ``‖q − c_cell − decode(code)‖²`` in exact int64.

    Returns ``(query_id, neighbor_id, ivfpq_dist_micro2, nn_rank)``,
    self-matches excluded, ties on neighbor_id — every number an exact
    integer, so the operator is hash-gradable (the SQL oracle unrolls
    all three stages as CTEs).

    Scale shape: both fits are the bounded-codebook class (collects of
    ≤ n_cells·d and m·kc·sub_dims rows) and share ONE seed collect (the
    seed order depends only on vec_id — r15); the corpus crosses the
    Arrow boundary in MAP-ONLY passes, each a SINGLE un-chained Python
    stage (r15: the residual used to be a separate Arrow UDF feeding
    the fit/scorer — a chained ArrowEvalPython → MapInArrow stage
    cannot fuse into one Python runner and measured 26.7 s first-run /
    4.2 s steady at the sf1 lane; now cell-assign+subtract runs INSIDE
    the fit kernel via _pq_lloyd(pre=...) and inside the scorer) — zero
    joins, zero corpus shuffles; the only exchange is the per-query
    top-k window over the bounded query set. At serving scale the cell
    structure also prunes the scan: only rows whose cell is probed
    score (non-probed rows emit nothing), which is the IVF speedup."""
    d = m * sub_dims
    empty = "query_id long, neighbor_id long, ivfpq_dist_micro2 long, nn_rank int"
    spark = corpus.sparkSession
    base = _pq_base(corpus, corpus_vec, corpus_id, d)
    # ONE persisted base serves the seed collect and BOTH fits (6 Lloyd
    # jobs re-derive it otherwise — the _pq_lloyd persist note); released
    # before the scoring pass is returned, which recomputes it once.
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # ONE bounded seed collect serves both fits (coarse needs n_cells
        # rows, the residual fit kc rows — same (md5, vec_id) order)
        seed_rows = _pq_seed_rows(base, max(n_cells, kc))
        coarse = _pq_lloyd(
            base, 1, d, n_cells, n_iters, seed_rows=seed_rows
        )
        if not coarse:
            return spark.createDataFrame([], empty)
        CC = np.zeros((n_cells, d), dtype=np.int64)
        for (_, cid), vals in coarse.items():
            CC[cid] = vals

        def _residual(X: np.ndarray) -> np.ndarray:
            # exact int64 cell assign + subtract (first-min == (dist, cid)
            # ties) — applied inside the fit/scorer kernels AND to the seed
            # matrix driver-side (same numpy ops, bit-identical)
            D = ((X[:, None, :] - CC[None]) ** 2).sum(axis=2)
            return X - CC[D.argmin(axis=1)]

        rcode = _pq_lloyd(
            base, m, sub_dims, kc, n_iters, pre=_residual, seed_rows=seed_rows
        )
        if not rcode:
            return spark.createDataFrame([], empty)
    finally:
        try:
            base.unpersist(blocking=False)
        except Exception:
            pass
    RC = np.zeros((m, kc, sub_dims), dtype=np.int64)
    for (s, cid), vals in rcode.items():
        RC[s, cid] = vals

    qb = _pq_base(queries, query_vec, query_id, d, out_id="qid")
    qrows = _collect_side(qb, "ivfpq_topk", "qid", "xm")
    if not qrows:
        return spark.createDataFrame([], empty)
    qids = [r[0] for r in qrows]
    # per query: n_probe nearest cells by exact coarse distance, then one
    # (m, kc) residual-ADC LUT per probed cell — all bounded driver work
    probed: list[list[tuple[int, np.ndarray]]] = []
    for _, xm_q in qrows:
        x = np.asarray(xm_q, dtype=np.int64)
        cd = ((x[None, :] - CC) ** 2).sum(axis=1)
        order = sorted(range(n_cells), key=lambda c: (int(cd[c]), c))
        plist = []
        for cell in order[:n_probe]:
            qres = (x - CC[cell]).reshape(m, 1, sub_dims)
            plist.append((cell, ((qres - RC) ** 2).sum(axis=2)))
        probed.append(plist)

    @arrow_udf(ArrayType(LongType()))
    def score(xm: pa.Array) -> pa.Array:
        # ONE un-chained kernel: cell assign + residual + code assign +
        # probed ADC (r15 — the cell/residual used to arrive from a
        # separate UDF stage; see the chaining note above)
        Xf, _, _ = vectors.fixed(xm, d, np.int64)  # (B, d)
        B = len(Xf)
        Dc = ((Xf[:, None, :] - CC[None]) ** 2).sum(axis=2)
        cells = Dc.argmin(axis=1)  # first-min == (dist, cid) ties
        X = (Xf - CC[cells]).reshape(B, m, 1, sub_dims)
        codes = ((X - RC[None]) ** 2).sum(axis=3).argmin(axis=2)  # (B, m)
        out = np.full((B, len(qids)), -1, dtype=np.int64)
        for qi, plist in enumerate(probed):
            for cell_id, lut in plist:
                mask = cells == cell_id
                if mask.any():
                    s = np.zeros(int(mask.sum()), dtype=np.int64)
                    for sp in range(m):
                        s += lut[sp, codes[mask, sp]]
                    out[mask, qi] = s
        return vectors.lists(out)

    scored = (
        base.select(
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode(score("xm")).alias("qpos", "d"),
        )
        .filter(F.col("d") >= 0)  # -1 == cell not probed by this query
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in qids]), F.col("qpos") + 1
            ).alias("query_id"),
            "neighbor_id",
            F.col("d").alias("ivfpq_dist_micro2"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        "ivfpq_dist_micro2", "neighbor_id"
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "ivfpq_dist_micro2", "nn_rank")
    )
