"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):

- Exact dedup is a hash-aggregate on a fingerprint — one shuffle on a
  high-cardinality key (no skew by construction: md5 output).
- Near-dup families NEVER do all-pairs: candidate generation is LSH banding
  (shingle → minhash → band → bucket-join), so the only shuffle is on band
  hashes and the quadratic blow-up is confined to within-bucket candidate
  sets. Verification (exact Jaccard / Hamming / cosine) runs only on
  candidates.
- Hashing is hybrid: base token/shingle hashing is JVM-side xxhash64/md5
  (codegen), while the per-permutation signature math runs in Arrow-batched
  Arrow UDFs as numpy matrix ops — Spark's higher-order array functions are
  interpreted, so "stay JVM-side" is NOT the fast path for O(perms × tokens)
  arithmetic; vectorized-batch Python beats it ~4× while shipping only
  int64 arrays across the Arrow boundary.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType
from pyspark.sql.window import Window

from duckdb_cloudflare_spark.operators.text_analysis import (
    fingerprint,
    join_window,
    ngram_windows,
    normalize_text,
    tokens,
    word_ngrams,
)
from duckdb_cloudflare_spark.util import vectors
from duckdb_cloudflare_spark.util.caching import one_slot_persist
from duckdb_cloudflare_spark.util.sizing import ensure_parallelism, exchange_width


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per distinct (normalized) text.

    One shuffle on md5(text) — uniform key distribution, no skew. Returns the
    surviving ids + the duplicate-group size.
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("fp")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("group_size"))
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH banding
# ---------------------------------------------------------------------------


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as strings (space-joined), distinct, in first-
    occurrence order. Empty or NULL text → []; a text of 1..k-1 tokens is
    ONE shingle, the whole (space-joined) text."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(word_ngrams(toks, k))).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", toks))).otherwise(
            F.array().cast("array<string>")
        )
    )


_TOKEN_CHUNK = 32768  # tokens per numpy matrix chunk (bounds transient memory)


def _perm_params(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """Odd multipliers + offsets for the (a*h + b) mod 2^64 permutation
    family (multiply-add over the full 64-bit ring; the min is dominated by
    the well-mixed high bits, the standard datasketch-style construction)."""
    rng = np.random.RandomState(seed)
    a = (rng.randint(1, 1 << 62, size=num_perm).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64)
    return a, b


def _segment_chunks(lens: np.ndarray):
    """Yield (row_slice, flat_start, flat_end, local_starts) groups of
    non-empty rows whose total token count stays under _TOKEN_CHUNK."""
    nz = np.nonzero(lens)[0]
    if len(nz) == 0:
        return
    bounds = np.concatenate(([0], np.cumsum(lens[nz])))
    i = 0
    while i < len(nz):
        j = i + 1
        while j < len(nz) and bounds[j + 1] - bounds[i] <= _TOKEN_CHUNK:
            j += 1
        yield nz[i:j], int(bounds[i]), int(bounds[j]), (bounds[i:j] - bounds[i]).astype(np.intp)
        i = j


def _minhash_rows(hashes: pa.Array, a: np.ndarray, b: np.ndarray) -> pa.Array:
    """Vectorized minhash: for each row (an int64 hash array), the per-
    permutation min of (a*h + b) mod 2^64. Empty/NULL rows → NULL."""
    lens, flat = vectors.ragged(hashes)
    flat = flat.view(np.uint64)
    out = np.zeros((len(lens), len(a)), dtype=np.int64)
    for rows, s, e, local_starts in _segment_chunks(lens):
        seg = flat[s:e]
        m = a[:, None] * seg[None, :] + b[:, None]  # uint64 wraparound by design
        out[rows] = np.minimum.reduceat(m, local_starts, axis=1).view(np.int64).T
    rows = np.nonzero(lens)[0]
    return vectors.lists(out[rows], rows, len(lens))


_SIG_UDF_CACHE: dict = {}


def _minhash_sig_udf(num_perm: int):
    if num_perm not in _SIG_UDF_CACHE:
        a, b = _perm_params(num_perm)

        @arrow_udf(ArrayType(LongType()))
        def sig(bh: pa.Array) -> pa.Array:
            return _minhash_rows(bh, a, b)

        _SIG_UDF_CACHE[num_perm] = sig
    return _SIG_UDF_CACHE[num_perm]


def minhash_signature(shingle_col: Column, num_perm: int = 64) -> Column:
    """MinHash signature: one JVM pass hashes every shingle to int64
    (xxhash64), then an Arrow-batched UDF applies all ``num_perm``
    multiply-add permutations as a single numpy matrix op with
    ``minimum.reduceat`` per row. Empty shingle set → null (never matches).

    Why the hybrid: Spark's higher-order functions are interpreted, so the
    pure-JVM formulation (num_perm transform+array_min passes) costs
    O(num_perm) interpreted array traversals per row — measured ~4× slower
    than this single-pass-plus-numpy shape at 64 permutations. The base
    hashing stays JVM-side so the UDF ships only int64 arrays, not strings."""
    bh = F.transform(shingle_col, lambda s: F.xxhash64(s))
    return _minhash_sig_udf(num_perm)(bh)


def _bands(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """array of (band_idx, band_hash) structs from a minhash signature."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            sig[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(num_bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (assumed distinct elements)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_perm: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash LSH, verified with exact
    Jaccard over the shingle sets.

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b, jaccard_sim >= threshold.

    Plan shape: map (shingle+sign) → explode bands → shuffle on (band, hash)
    → within-bucket self-join → distinct pairs → verify. The band-bucket join
    is the only quadratic step and operates on tiny groups; the session's
    default shuffle width carries it.
    """
    # Cheap emptiness filter HERE so it pushes down to the scan; a filter on
    # the signature/shingle expression would be pushed below the repartition
    # by Catalyst and re-evaluate the whole shingling single-threaded on the
    # scan partitions.
    nonempty = df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    base = ensure_parallelism(nonempty).select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), k_shingle).alias("sh"),
    )
    return _lsh_verified_pairs(base, num_perm, num_bands, threshold)


def _lsh_verified_pairs(
    base: DataFrame,
    num_perm: int,
    num_bands: int,
    threshold: float,
    max_bucket: int = 200,
) -> DataFrame:
    """Shared LSH core over ``base(id, sh)``: sign → band → bucket-join on
    bare (id, band_key) pairs → distinct → re-attach shingle sets → exact
    Jaccard verify.

    The band join deliberately carries ONLY 16 bytes per row (id +
    band_key): shipping the shingle arrays through the explode would
    multiply shuffle volume by num_bands×, and carrying them through the
    pair-dedup shuffle would double it again. Re-attaching `sh` afterwards
    costs two joins over the (small) candidate set — the 100 TB-friendly
    trade.

    ``max_bucket`` drops band buckets with more than that many members
    before the self-join. An over-full bucket is by construction
    non-discriminative (its hash carries almost no similarity signal —
    e.g. a band whose minhashes collapsed on boilerplate), and one hot
    bucket of size B costs B² candidate rows: the cap turns the worst case
    from quadratic-in-skew into linear, which is what lets the same plan
    run at 100 TB. Documented recall impact: only pairs whose EVERY shared
    band is over-full are lost."""
    rows_per_band = num_perm // num_bands
    base = base.withColumn("sig", minhash_signature(F.col("sh"), num_perm))
    # Materialize (id, sh, sig) once: three consumers read it (band explode,
    # sh_a re-attach, sh_b re-attach) and the shingle+signature expressions
    # sit ABOVE the repartition exchange, so plain lineage would re-run the
    # most expensive map in the operator 3×. Production minhash pipelines
    # materialize signatures for the same reason. persist (not
    # localCheckpoint) keeps recompute-on-executor-loss semantics for real
    # clusters and avoids AQE's noisy stale-accumulator races. One slot:
    # the next call releases this base, as does queries.uncache_tables.
    base = one_slot_persist("dedup._lsh_verified_pairs", base)
    # Single 64-bit key per (band, hash): collisions across bands are
    # astronomically unlikely and harmless (they only add candidates).
    # No isNotNull filter on sig: callers pre-filter empty text (the only
    # null-sig case), and a filter on sig would be pushed below the
    # repartition and re-evaluate the shingle expression on the raw scan.
    banded = base.select(
        "id",
        F.explode(_bands(F.col("sig"), num_bands, rows_per_band)).alias("bb"),
    ).select("id", F.xxhash64(F.col("bb.band"), F.col("bb.band_hash")).alias("bk"))
    if max_bucket is not None:
        # groupBy+join, NOT count().over(Window.partitionBy("bk")): a hot
        # bucket is exactly the case this cap handles, and a window would
        # ship every row of it into one task; the groupBy collapses it
        # map-side, and the join's hash partitioning on bk is the same one
        # the self-join below needs, so the exchange is reused.
        ok = (
            banded.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("bk")
        )
        banded = banded.join(ok, "bk")
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(right, (F.col("l.bk") == F.col("r.bk")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_map = base.select("id", "sh")
    return (
        cand.join(sh_map.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_map.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim"))
    )


def _warn_unconverged(max_iterations: int) -> None:
    """An unconverged star forest is WRONG (over-segmented components) yet
    indistinguishable from a correct result by inspection — say so loudly
    instead of returning it silently (ADVICE r2)."""
    import warnings

    warnings.warn(
        f"connected_components: iteration cap ({max_iterations}) exhausted "
        "before convergence; the returned components are over-segmented "
        "(some connected nodes carry different labels). Raise max_iterations "
        "— large-star/small-star needs O(log^2 n) rounds.",
        RuntimeWarning,
        stacklevel=3,
    )


def _sym(e: DataFrame) -> DataFrame:
    return e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def _materialize(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Eager localCheckpoint of an ``(a, b)`` edge set with its fingerprint
    — the count and bit_xor of the hashes of the edges with ``a != b``
    (order-insensitive, and overflow-free under ANSI where a sum of int64
    hashes overflows) — gathered by an Observation in the SAME job."""
    obs = Observation()
    real = F.col("a") != F.col("b")
    e = e.observe(
        obs,
        F.count(F.when(real, 1)).alias("n"),
        F.bit_xor(F.when(real, F.xxhash64("a", "b"))).alias("h"),
    ).localCheckpoint(eager=True)
    return e, tuple(obs.get.values())


def connected_components(pairs: DataFrame, max_iterations: int = 30) -> DataFrame:
    """Transitive closure of a pair list → ``(id, component)``, one row per
    id that appears in a pair, ``component`` = min id of its connected
    component.

    Alternating large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) over the canonical edge
    set ``(least, greatest)``: O(log² n) rounds whatever the graph's
    diameter, so chained near-dups (A≈B≈C≈… without A≈C — templated or
    serially-edited documents) converge as fast as near-cliques. large-star:
    every node's neighbors larger than it re-attach to the minimum of its
    closed neighborhood; small-star: a node and its smaller neighbors
    attach to the minimum of those neighbors. Each is one window over the
    node, and a round ends in one ``distinct``: three shuffles, all in
    Catalyst — no driver-side union-find, so the pair set (not the corpus)
    is what iterates.

    The rounds run HERE, when the function is called, not when the result
    is collected: a converging loop has to see each round's output to
    decide whether to run the next. The canonical edge set is materialized
    once (one Spark action), and each round is exactly one action: an eager
    localCheckpoint whose Observation carries the round's fingerprint,
    compared with the previous round's. Only a fingerprint match pays the
    exact two-sided exceptAll confirmation (one more action), so a hash
    collision cannot end the loop early. An exhausted ``max_iterations``
    warns (RuntimeWarning) and returns the over-segmented forest.

    Input: columns ``id_a``, ``id_b``; a pair with a NULL endpoint is
    dropped, as an equi-join on the id would drop it. Output: ``id``,
    ``component``; an id paired only with itself is its own component.
    """
    canon, prev_fp = _materialize(
        pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
        .select(
            F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
        )
        .distinct()
    )
    edges = canon.filter(F.col("a") != F.col("b"))
    w = Window.partitionBy("u")
    converged = False
    for _ in range(max_iterations):
        # large-star: each neighbor v > u attaches to m(u) = min of {u} ∪ N(u)
        large = (
            _sym(edges)
            .withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
        )
        # small-star: u and its neighbors v < u attach to m(u) = min of
        # N⁻(u); both edges already have a <= b
        down = (
            _sym(large)
            .filter(F.col("v") < F.col("u"))
            .withColumn("m", F.min("v").over(w))
        )
        small, fp = _materialize(
            down.select(
                F.inline(
                    F.array(
                        F.struct(F.col("m").alias("a"), F.col("v").alias("b")),
                        F.struct(F.col("m").alias("a"), F.col("u").alias("b")),
                    )
                )
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        converged = (
            fp == prev_fp
            and small.exceptAll(edges).union(edges.exceptAll(small)).count() == 0
        )
        edges, prev_fp = small, fp
        if converged:
            break
    if not converged:
        _warn_unconverged(max_iterations)

    # A star forest: every leaf b hangs off its component's min a. Off
    # convergence, min over a node's smaller neighbors is what the closed
    # neighborhood gives, so each node still gets exactly one row.
    lab = edges.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("component"))
    return (
        canon.select(F.col("a").alias("id"))
        .union(canon.select(F.col("b").alias("id")))
        .distinct()
        .join(lab, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    transitive: bool = False,
    **kwargs,
) -> DataFrame:
    """Rows surviving near-dedup.

    Default (single-pass): drop the larger id of every near-dup pair — the
    standard one-shuffle approximation (a row is dropped if it is the
    larger side of ANY pair; chains keep only their overall smallest member
    when all chain edges were found).

    ``transitive=True``: full connected-component clustering first, then
    keep the min-id member of every component — exact transitive semantics
    even when the pair list only has chain edges (A~B, B~C but not A~C).
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    if transitive:
        comp = connected_components(pairs)
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware canonical selection: cluster the near-dup ``pairs``
    (connected components), then keep the HIGHEST-``score_col`` member of
    every cluster (tie → min id) instead of min-id. Rows in no pair are
    singletons and always survive.

    This is the curation deliverable of a dedup pass — keep the best copy
    (longest / highest-quality), drop the rest. Returns ``df`` rows that
    survive, plus a ``cluster_size`` column (1 for singletons).

    Scale shape: components over the (small) pair set, one broadcast-or-
    shuffle join back to ``df`` on id, and a per-cluster top-1 window that
    gets WindowGroupLimit partial push-down — the corpus itself is never
    shuffled beyond the id join.
    """
    comp = connected_components(pairs)  # (id, component) — only ids that appear in pairs
    labeled = df.join(
        comp.select(F.col("id").alias(id_col), "component"), id_col, "left"
    )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    clustered = (
        labeled.filter(F.col("component").isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "component")
    )
    singletons = labeled.filter(F.col("component").isNull()).drop("component").withColumn(
        "cluster_size", F.lit(1).cast("long")
    )
    return clustered.unionByName(singletons)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_rows(hashes: pa.Array, bits: int) -> pa.Array:
    """Vectorized simhash votes: unpack each token hash into ±1 bit votes,
    sum per row (add.reduceat), pack sign bits. Empty rows → 0."""
    lens, flat = vectors.ragged(hashes)
    flat = flat.view(np.uint64)
    shifts = np.arange(bits, dtype=np.uint64)
    out = np.zeros(len(lens), dtype=np.int64)
    for rows, s, e, local_starts in _segment_chunks(lens):
        seg = flat[s:e]
        votes_pm = ((seg[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32) * 2 - 1
        sums = np.add.reduceat(votes_pm, local_starts, axis=0)  # (rows, bits)
        packed = ((sums > 0).astype(np.uint64) << shifts[None, :]).sum(axis=1).astype(np.int64)
        out[rows] = packed
    return pa.array(out)


def _simhash_udf(bits: int):
    key = ("simhash", bits)
    if key not in _SIG_UDF_CACHE:

        @arrow_udf(LongType())
        def sh(hashes: pa.Array) -> pa.Array:
            return _simhash_rows(hashes, bits)

        _SIG_UDF_CACHE[key] = sh
    return _SIG_UDF_CACHE[key]


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens: per-token xxhash64 (one JVM pass),
    then an Arrow-batched UDF does the bitwise ±1 vote and sign-bit
    packing as numpy matrix ops. 32 bits keeps Hamming grouping effective;
    the pure-expression formulation (``bits`` interpreted aggregate passes
    over the hash array) measured ~4× slower — higher-order functions do
    not enter codegen."""
    hashes = F.transform(tokens(text), lambda t: F.xxhash64(t))
    return _simhash_udf(bits)(hashes)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash with block-permutation candidate generation:
    split the fingerprint into ``num_blocks`` blocks; by pigeonhole, any pair
    within Hamming distance < num_blocks shares at least one exact block →
    join on (block_idx, block_value), verify true Hamming distance."""
    block_bits = bits // num_blocks
    mask = (1 << block_bits) - 1
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sh")
    )
    # The self-join below consumes `base` twice; without materialization the
    # simhash computation runs 2× (it lives above the exchange).
    base = one_slot_persist("dedup.simhash_pairs", base)
    blocks = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sh"), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("blk_val"),
                    )
                    for i in range(num_blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", F.col("b.blk").alias("blk"), F.col("b.blk_val").alias("blk_val"))
    l, r = blocks.alias("l"), blocks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.blk_val") == F.col("r.blk_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.sh"), F.col("r.sh")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (character n-grams), LSH-bucketed
# ---------------------------------------------------------------------------


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams of normalized text."""
    norm = normalize_text(text)
    ln = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(ln - n + 1, F.lit(0)))
    grams = F.transform(idx, lambda i: F.substring(norm, F.lit(0) + i, n))
    return F.when(ln >= n, F.array_distinct(grams)).otherwise(
        F.when(ln > 0, F.array(norm)).otherwise(F.array().cast("array<string>"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.7,
    num_perm: int = 32,
    num_bands: int = 4,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs; candidates from MinHash-LSH
    over the n-gram sets (same banding machinery as minhash_lsh_pairs).

    Defaults use 8 rows per band (32/4): character n-grams of
    same-language text share a substantial background vocabulary (measured
    ~0.17 mean / 0.26 p99 Jaccard on the synthetic corpus), so 2-row bands
    collide on ~s²·bands ≈ 0.4 of ALL pairs and even 4-row bands emit ~4%
    of all pairs as candidates — a quadratic explosion either way. At 8
    rows the background rate is s⁸·bands ≈ 10⁻⁶ while true near-dups
    (s ≥ 0.85, the planted regime) still collide with ≥ 80% probability;
    pairs near the 0.7 threshold trade some recall for the ability to run
    the same plan at 100 TB."""
    nonempty = df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    base = ensure_parallelism(nonempty).select(
        F.col(id_col).alias("id"), char_ngrams(F.col(text_col), n).alias("sh")
    )
    return _lsh_verified_pairs(base, num_perm, num_bands, threshold)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def _cosine_rows(a: pa.Array, b: pa.Array) -> pa.Array:
    """Vectorized pairwise cosine over two list columns. NULL, empty,
    unequal-length or zero-norm pairs → 0.0 (matches the expression
    semantics); a NULL element yields NULL."""
    out = np.zeros(len(a), dtype=np.float64)
    la, lb = vectors.lengths(a), vectors.lengths(b)
    # one matrix per distinct length (a batch of one embedding column has one)
    for d in np.unique(la[(la == lb) & (la > 0)]):
        A, ra, _ = vectors.fixed(a, d)
        B, rb, _ = vectors.fixed(b, d)
        ok = np.intersect1d(ra, rb)
        A, B = A[np.isin(ra, ok)], B[np.isin(rb, ok)]
        # float64 accumulation, elements cast from float32 first — same
        # contract as the DuckDB oracle (sum-order differences are below
        # the 1e-6 rounding applied by every caller).
        dot = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        denom = na * nb
        np.divide(dot, denom, out=dot, where=denom > 0)
        dot[denom <= 0] = 0.0
        out[ok] = dot
    return pa.array(out, mask=np.isnan(out))


def _cosine_udf():
    key = "cosine"
    if key not in _SIG_UDF_CACHE:

        @arrow_udf(DoubleType())
        def cos(a: pa.Array, b: pa.Array) -> pa.Array:
            return _cosine_rows(a, b)

        _SIG_UDF_CACHE[key] = cos
    return _SIG_UDF_CACHE[key]


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed as a
    batched numpy matrix op behind an Arrow UDF. The expression-tree
    formulation (zip_with + three aggregate passes) is interpreted and was
    the hot path of every ANN operator; einsum over the Arrow batch is ~5×
    faster at 128-dim. Elements are widened to float64 before multiplying
    (float32 products would diverge from the DuckDB-oracle doubles)."""
    return _cosine_udf()(a, b)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold.

    Candidates come from random-hyperplane LSH (sign-bit sketch, joined on the
    full sketch — high-cosine pairs collide with high probability), then exact
    cosine verification. At 100 TB the sketch join is the only shuffle; the
    planes are a tiny deterministic broadcast literal.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = first["d"] if first else 0
    planes = rng.standard_normal((num_planes, dim))
    sketch = _hyperplane_sketch(F.col(vec_col), planes)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sketch.alias("sk")
    )
    # Self-joined twice below; materialize so the num_planes interpreted dot
    # products per row run once, not once per join side.
    base = one_slot_persist("dedup.embedding_neardup_pairs", base)
    l, r = base.alias("l"), base.alias("r")
    return (
        l.join(r, (F.col("l.sk") == F.col("r.sk")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine_similarity(F.col("l.v"), F.col("r.v")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _sketch_rows(vecs: pa.Array, planes_t: np.ndarray) -> pa.Array:
    """Sign-bit sketches: (n, d) @ (d, P) → packed int64. NULL/odd-length → 0."""
    out = np.zeros(len(vecs), dtype=np.int64)
    M, rows, _ = vectors.fixed(vecs, planes_t.shape[0])
    bits = (M @ planes_t) >= 0  # (n_ok, P)
    weights = np.left_shift(np.uint64(1), np.arange(planes_t.shape[1], dtype=np.uint64))
    out[rows] = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1).view(np.int64)
    return pa.array(out)


def _sketch_udf(planes: np.ndarray):
    key = ("sketch", planes.tobytes())
    if key not in _SIG_UDF_CACHE:
        planes_t = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)

        @arrow_udf(LongType())
        def sk(vecs: pa.Array) -> pa.Array:
            return _sketch_rows(vecs, planes_t)

        _SIG_UDF_CACHE[key] = sk
    return _SIG_UDF_CACHE[key]


def _hyperplane_sketch(vec: Column, planes) -> Column:
    """Sign-bit sketch of a vector against fixed hyperplanes → BIGINT.
    One matrix multiply per Arrow batch instead of num_planes interpreted
    zip_with/aggregate passes per row."""
    return _sketch_udf(np.asarray(planes))(vec)


# ---------------------------------------------------------------------------
# Exact-substring duplication metric (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better")
# ---------------------------------------------------------------------------


def duplicated_ngram_stats(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document duplicated-n-gram fraction: of each doc's DISTINCT word
    k-shingles, the share that also occurs in at least one other document.
    High dup_frac flags boilerplate/templated docs for removal — the
    document-level form of exact-substring dedup.

    Shape (r16 reshape, guide §2.4): shingle inverted index (explode
    distinct shingles) → per-shingle doc count as a COUNT OVER
    (PARTITION BY shingle) window on the index itself → per-doc
    aggregate. Because each doc contributes a shingle at most once, the
    per-row window count IS the containing-doc count. The former
    groupBy-then-join-back shape computed the whole tokenize+shingle map
    lineage TWICE (the count side's partial aggregate below its exchange
    makes the two subtrees non-identical, so ReuseExchange can't fire)
    and ran the join + per-doc fold at the global shuffle width (8 on
    the bench box); the window shares ONE map pass and one exchange —
    measured 25.8 s → 4.3 s at the sf1 lane, rows identical. The
    exchange is sized from the input's own partitioning
    (``util.sizing.exchange_width``, shared with _pair_intersections).
    Never a quadratic pair blow-up — this never materializes doc pairs,
    unlike Jaccard; a hot shingle ("click here to subscribe") is one
    window group, bounded by the docs that actually contain it.

    Docs with fewer than k tokens are excluded (no k-shingles to score).

    The inverted index is keyed on xxhash64(shingle) — fixed 8-byte shuffle
    keys instead of k-word strings (the same trade as p34's exact-Jaccard
    join; the string-keyed SQL oracle would catch a count-perturbing
    collision at test scale).
    """
    from pyspark.sql.window import Window as _W

    n_toks = F.size(tokens(F.col(text_col)))
    src = ensure_parallelism(df)
    inv = (
        src.filter(n_toks >= k)
        .select(id_col, F.explode(shingles(F.lower(F.col(text_col)), k)).alias("sh"))
        .select(id_col, F.xxhash64("sh").alias("shingle"))
    )
    inv = inv.repartition(exchange_width(src), "shingle")
    scored = inv.withColumn(
        "n_docs_with", F.count(F.lit(1)).over(_W.partitionBy("shingle"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("n_docs_with") >= 2, True)).alias("n_dup"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_shingles")).alias("dup_frac"),
        )
    )


def prefix_dup_groups(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Boilerplate-prefix detection: group documents sharing an identical
    normalized first-k-token prefix, keep groups of ≥ 2. Catches
    header/template families that exact dedup misses (bodies differ) and
    near-dup LSH may miss (overall similarity low, prefix identical).

    One shuffle on md5(prefix) — high-cardinality uniform key, same scale
    shape as exact dedup; the full text column is never shuffled, only the
    16-byte fingerprint.

    CONTRACT for NULL text (ADVICE r10): null-text docs carry a NULL
    ``prefix_fp``, and groupBy treats NULL as a regular key — so >= 2
    null-text docs are reported as ONE group (``prefix_fp IS NULL``,
    ``keep_id`` = min id). A caller deduping on this output therefore
    keeps exactly one null-text doc. This mirrors the DuckDB oracle
    (md5(NULL) is NULL; GROUP BY groups NULLs) and is deliberate: a NULL
    fp is still "these docs have no distinguishing prefix". Callers who
    want null-text docs exempt from prefix-dedup should pre-filter
    ``df.filter(col(text_col).isNotNull())`` before calling.
    """
    pref = F.concat_ws(" ", F.slice(tokens(F.lower(F.col(text_col))), 1, k))
    # NULL text has NO prefix (concat_ws would silently render "" and lump
    # null docs with genuinely-empty ones — r10 dirty-parity find); a NULL
    # fingerprint group still counts consistently in both engines if >= 2
    # null-text docs exist
    fp = F.when(F.col(text_col).isNotNull(), F.md5(pref))
    return (
        df.select(F.col(id_col), fp.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )


def dup_span_stats(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Span-level exact-substring duplication (the curation form of Lee et
    al. 2022): positions whose word-k-shingle occurs in >= 2 DISTINCT
    documents are duplicate positions; overlapping duplicate windows merge
    into maximal spans (gaps-and-islands). Returns, per doc with >= 1 span:
    (doc_id, n_spans, dup_tokens) where dup_tokens is the merged span
    token mass — the "how much of this doc is boilerplate" number the
    span-removal pass consumes.

    Shapes: positional shingle explode (map-side) → two-level distinct-doc
    count per shingle (partial-aggregated, skew-bounded) → join back on
    xxhash64 keys → per-doc windows ordered by position. The windows
    partition by doc_id, so their sort is per-document and bounded by doc
    length — no global sort at any scale. Within-doc repetition alone does
    NOT mark a position (cross-document semantics).
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = (
        ensure_parallelism(df)
        .filter(F.size(toks) >= k)
        .select(id_col, toks.alias("ts"))
    )
    # (doc, pos, shingle-hash) for EVERY position (not distinct — spans need
    # positions); hash built from the same ' '-joined k-gram as p34/p36,
    # after the explode.
    pos = base.select(
        id_col, F.posexplode(ngram_windows(F.col("ts"), k)).alias("pos", "w")
    ).select(id_col, "pos", F.xxhash64(join_window(F.col("w"), k)).alias("sh"))
    dup_sh = (
        pos.select("sh", id_col)
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
        .hint("shuffle_hash")
    )
    duppos = pos.join(dup_sh, "sh").select(id_col, "pos")
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy(id_col).orderBy("pos")
    isl = duppos.withColumn(
        "brk",
        F.when(
            F.col("pos")
            >= F.coalesce(F.max(F.col("pos") + k).over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w_run))
    spans = isl.groupBy(id_col, "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + k).alias("e")
    )
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
    )


def chunk_digests(
    df: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Map-side chunking: ``(id, chunk_idx, h)`` rows where ``h`` is the md5
    of each non-overlapping ``chunk_tokens``-token chunk. Pure projection —
    no shuffle, no partition probe — so it works on STREAMING DataFrames too
    (``streaming.documents.chunk_dedup_stream`` builds on it).

    Tokenization is raw split-then-lower (p34's oracle-exact formulation),
    NOT ``text_analysis.tokens`` — blank text yields a single empty token on
    both engines, keeping DuckDB oracle parity on edge cases."""
    ts = F.col("ts")
    n_chunks = ((F.size(ts) + F.lit(chunk_tokens - 1)) / F.lit(chunk_tokens)).cast(
        "long"
    )
    # Total (the when-guard keeps sequence() ascending on any row Catalyst
    # evaluates it on): safe under predicate pushdown.
    digests = F.when(
        F.size(ts) >= 1,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(ts, i * chunk_tokens + 1, chunk_tokens))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(id_col, lowered_tokens(text_col).alias("ts"))
        .filter(F.size("ts") >= 1)
        .select(id_col, F.posexplode(digests).alias("chunk_idx", "h"))
    )


def chunk_dedup_stats(
    df: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level first-occurrence dedup (Dolma's paragraph-dedup semantics
    over fixed-size token chunks, for corpora without paragraph structure):
    every non-overlapping ``chunk_tokens``-token chunk is md5-hashed; the
    globally FIRST occurrence — ordered by (doc_id, chunk_idx) — is the
    keeper and every later copy counts as a duplicate. Returns the per-doc
    removal plan ``(doc_id, n_chunks, dup_chunks)``.

    Scale shape: chunking and hashing are map-side; the only shuffle is the
    hash-partitioned first-occurrence window, whose groups are bounded by a
    chunk's duplicate multiplicity (never corpus size). The full text never
    shuffles — only 32-char digests.
    """
    chunks = chunk_digests(
        ensure_parallelism(df), chunk_tokens, text_col=text_col, id_col=id_col
    )
    w = Window.partitionBy("h").orderBy(id_col, "chunk_idx")
    return (
        chunks.withColumn("rn", F.row_number().over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("rn") > 1).cast("int")).cast("long").alias("dup_chunks"),
        )
    )


def md5_minhash_sigs(
    df: DataFrame,
    k: int = 12,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-engine-reproducible minhash signatures: per doc, the min of
    ``md5(seed || ':' || shingle)`` over its distinct word-``shingle_k``
    shingles (a min, so repeated shingles need no per-doc de-duplication),
    for ``k`` seeds — a minhash whose every byte DuckDB can
    recompute (unlike the production xxhash64+numpy path in
    ``minhash_signature``, whose permutation constants live Python-side).
    Returns ``(doc_id, s0..s{k-1})``; the agreement fraction between two
    docs' signature rows is the standard unbiased Jaccard estimate.

    One groupBy computes all ``k`` mins in a single partial-aggregated
    shuffle; everything before it is map-side codegen (split, slices,
    md5). Used by p48 to put the minhash estimation math itself under the
    DuckDB hash check."""
    inv = (
        ensure_parallelism(df)
        .select(id_col, lowered_tokens(text_col).alias("ts"))
        .filter(F.size("ts") >= shingle_k)
        .select(id_col, F.explode(ngram_windows(F.col("ts"), shingle_k)).alias("w"))
        .select(id_col, join_window(F.col("w"), shingle_k).alias("shingle"))
    )
    return inv.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"s{j}")
            for j in range(k)
        ]
    )


def lowered_tokens(text_col: str = "text") -> Column:
    """Raw lower-then-split tokenization (p34's oracle-exact formulation:
    blank text yields one empty token, matching DuckDB string_split_regex).
    Lowering the whole text before the split is token-for-token the same
    as lowering each token — no character lowers to or from whitespace —
    and needs no per-token lambda."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def _doc_freq_filter(
    inv: DataFrame, prefilter_singletons: bool, max_doc_freq: int | None
) -> DataFrame:
    """Shared doc-frequency gate for the inverted-index pair engines: one
    window count per shingle (shingles are distinct within a doc, so the
    row count IS the doc frequency), then the singleton floor (output-
    identical: a one-doc shingle can't make a pair) and/or the
    ``max_doc_freq`` stop-shingle ceiling (bounds each shingle's pair
    fan-out at max_doc_freq² — documented underestimate)."""
    if not prefilter_singletons and max_doc_freq is None:
        return inv
    from pyspark.sql.window import Window as _W

    inv = inv.withColumn(
        "__sc", F.count(F.lit(1)).over(_W.partitionBy("shingle"))
    )
    if prefilter_singletons:
        inv = inv.filter(F.col("__sc") >= 2)
    if max_doc_freq is not None:
        inv = inv.filter(F.col("__sc") <= max_doc_freq)
    return inv.drop("__sc")


def _pair_intersections(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    prefilter_singletons: bool,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared inverted-index pair-intersection engine for the exact
    all-pairs metrics (``exact_jaccard_pairs`` / ``containment_pairs``):
    ``(id_a, id_b, inter, n_a, n_b)`` for every doc pair sharing >= 1
    distinct word-``k``-shingle (id_a < id_b).

    r16 reshape (guide §2.3/§2.4 — measured at the sf1 lane, where this
    stage was the single biggest bench row): the pair stream out of the
    self-join is QUADRATIC (38 M rows from a 2.2 M-row index at sf1) and
    its map-side partial aggregation collapses nothing BY CONSTRUCTION —
    a pair occurs once per shared shingle, and different shingles hash
    to different partitions, so within one map partition multiplicity is
    ~1 and the partial hash pass is pure overhead feeding a final agg
    pinned at the session's shuffle width (8 on the bench box: 8.5 M
    groups on 8 of 32 cores). Fix: repartition the pair stream by the
    PAIR KEY at a width derived from the input's own partitioning
    (``util.sizing.exchange_width``: max(cores, input partitions) —
    scale-adaptive, not a box constant), so the one aggregation that
    matters runs fused after the exchange at full width. Same exchange-count (the repartition IS
    the aggregation's exchange), measured 12.8 s -> 3.7 s for p34 at
    sf1, rows identical. The join's own exchange is widened the same
    way (probe: 12.8 -> 10.4 s alone) and stays ReusedExchange-shared
    between the two sides."""
    src = ensure_parallelism(df)
    shins = (
        src.select(id_col, lowered_tokens(text_col).alias("ts"))
        .filter(F.size("ts") >= k)
        .select(id_col, F.array_distinct(word_ngrams(F.col("ts"), k)).alias("sh"))
    )
    # n_sh below the explode so Generate never carries the array (r15);
    # the 8-byte key is hashed after it. explode_outer yields the same rows
    # (every sh is non-empty) but is exempt from InferFiltersFromGenerate,
    # whose inferred size(sh) > 0 Filter would shingle each row twice.
    inv = (
        shins.select(id_col, "sh", F.size("sh").alias("n_sh"))
        .select(id_col, F.explode_outer("sh").alias("g"), "n_sh")
        .select(id_col, F.xxhash64("g").alias("shingle"), "n_sh")
    )
    inv = _doc_freq_filter(inv, prefilter_singletons, max_doc_freq)
    n_pair = exchange_width(src)
    inv = inv.repartition(n_pair, "shingle")
    a = inv.select(F.col(id_col).alias("id_a"), "shingle", F.col("n_sh").alias("n_a"))
    b = inv.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("n_sh").alias("n_b")
    ).hint("shuffle_hash")
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "n_a", "n_b")
        .repartition(n_pair, "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )


def exact_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefilter_singletons: bool = False,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT all-pairs word-``k``-shingle Jaccard >= ``threshold`` over any
    document DataFrame via the shingle-inverted-index join (p34's engine,
    extracted so compositions like the p54 curation pipeline run it over a
    FILTERED corpus without re-implementing the derivation). Returns
    ``(id_a, id_b, jaccard)``.

    Scale shape: distinct shingles exploded map-side, shuffle_hash
    equi-join on 8-byte xxhash64 keys (high-cardinality uniform int64 —
    hashing beats SortMergeJoin's two full sorts, measured at sf0.1),
    pair co-occurrence aggregated after a pair-keyed exchange sized from
    the input's own partitioning (r16 — see _pair_intersections), per-doc
    set sizes carried on the exploded rows. The hot-shingle candidate
    blowup is why the LSH families exist; run THIS for verification
    slices, minhash/LSH for the full corpus.

    ``prefilter_singletons``: drop shingles occurring in only ONE document
    before the self-join (they cannot produce a pair, so the output is
    IDENTICAL — pair intersection counts only involve shared shingles).
    On natural-language corpora most shingles are singletons and this cuts
    the join input by an order of magnitude — the right default at real
    scale. It is OFF by default because the filter's per-shingle window
    count adds a sort, which only pays for itself when singletons dominate
    (the synthetic bench corpus has a tiny vocabulary — measured 99.9% of
    shingle instances shared, filter cost ≈ savings).

    ``max_doc_freq`` (VERDICT r9 item 6): drop shingles occurring in MORE
    than this many documents before the self-join — the standard
    stop-shingle rule. A shingle shared by D documents emits D² pair rows,
    so one boilerplate sentence across a template-heavy slice turns the
    "verification slice" contract quadratic; the cap bounds every
    shingle's pair fan-out at max_doc_freq². With the cap on the metric
    is a documented UNDERESTIMATE (dropped shingles shrink the
    intersection while n_a/n_b keep the full set sizes — Jaccard can only
    go down, never up, so the >= threshold gate loses pairs and invents
    none). OFF (None) by default: the exact contract and driver-oracle
    parity are unchanged unless a caller opts in.
    """
    # Each exploded row CARRIES its doc's set size (one int alongside the
    # 8-byte key): the former sizes-table joins re-executed the whole
    # tokenize+shingle lineage once per join (the map is ~half the
    # operator's cost — profiled at sf0.1: 3.3 s → 1.9 s by removing them),
    # and first() over the group key's functional dependent replaces both.
    # r15: n_sh is computed BELOW the explode — `size(sh)` beside the
    # explode made Generate carry the whole `sh` ARRAY as a required
    # child output, copying it into every exploded row's buffer
    # (O(shingles²) bytes per doc; profiled at the sf1 lane: the
    # map+explode pass alone read 33 s with the array carried vs ~3.5 s
    # with it pruned). Same rows out, one int carried instead.
    # r16: the join/pair-agg stages are reshaped in _pair_intersections
    # (pair-keyed repartition at input-derived width — see its docstring).
    inter = _pair_intersections(
        df, k, text_col, id_col, prefilter_singletons, max_doc_freq
    )
    j = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.filter(j >= threshold)
        .select("id_a", "id_b", j.alias("jaccard"))
    )


def seeded_uniform(prefix: str, id_col: Column) -> Column:
    """Deterministic uniform [0, 1) from a seed string + id: the first 8
    md5 hex chars as an integer over 2^32 — bit-identical in DuckDB
    (``('0x' || substr(md5(...), 1, 8))::BIGINT / 4294967296.0``), the
    reproducible-sampling primitive under p49/p54."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), id_col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )


def epoch_shard_assign(
    df: DataFrame,
    seed: str = "epoch-7:",
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch shuffle (p43's engine, shared with p54): every
    row gets a shard (hash bucket of the seeded md5 key) and a position
    inside it (rank of the key) — epoch order reproducible from the seed
    alone, no stored permutation, no global sort (per-shard windows only;
    shard count is the sort-size lever). Appends ``shard`` and
    ``pos_in_shard`` to ``df``'s columns."""
    k = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    keyed = df.withColumn("__k", k)
    shard = (
        F.conv(F.substring("__k", 1, 4), 16, 10).cast("long") % n_shards
    ).cast("integer")
    w = Window.partitionBy(shard).orderBy("__k", id_col)
    return keyed.select(
        *df.columns,
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


def minhash_signatures_exact(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    shingle_k: int = 3,
    bands: int = 4,
) -> DataFrame:
    """EXACT-oracle MinHash: ``k`` permutation mins per doc over word-
    ``shingle_k`` shingles, plus ``bands`` LSH band keys — the signature
    stage of the p06 near-dup family, formulated so a SQL engine can
    mirror it bit-for-bit. Permutation ``i`` hashes a shingle as the first
    15 hex digits of ``md5(i || ':' || shingle)`` read as a base-16
    integer (60 bits — fits signed 64 exactly on both engines; xxhash64
    would be faster but has no cross-engine twin, the same md5-for-oracle
    trade p19/p43/p57 make). Band ``j`` key = md5 of its ``k/bands``
    signature values joined with ','.

    Scale shape: ONE shingle explode → ONE partial-aggregated groupBy
    (doc_id) computing all ``k`` mins at once (k conditional min aggs,
    map-side combined) → band keys derived map-side. Docs with fewer than
    ``shingle_k`` tokens produce no shingles and are EXCLUDED (no
    signature is defined for them) — callers union them back as
    singletons, as p06 does.

    Cites: banding/minhash per Broder '97 / MMDS ch.3, matching the
    reference-behavior family of p06 (minhash_near_duplicates)."""
    if k % bands != 0:
        raise ValueError(f"bands ({bands}) must divide k ({k})")
    rows = k // bands
    d = df.select("doc_id", lowered_tokens(text_col).alias("ts")).filter(
        F.size(F.col("ts")) >= shingle_k
    )
    ex = d.select(
        "doc_id", F.explode(ngram_windows(F.col("ts"), shingle_k)).alias("w")
    ).select("doc_id", join_window(F.col("w"), shingle_k).alias("sh"))
    hashes = [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias(f"h{i}")
        for i in range(k)
    ]
    sigs = (
        ex.select("doc_id", *hashes)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{i}").alias(f"s{i}") for i in range(k)])
    )
    band_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"s{j * rows + r}").cast("string") for r in range(rows)])
        ).alias(f"b{j}")
        for j in range(bands)
    ]
    return sigs.select("doc_id", *[f"s{i}" for i in range(k)], *band_cols)


def shingle_df_histogram(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc-frequency histogram of word-``k`` shingles in log2 buckets —
    the profiling report that SIZES the ``max_doc_freq`` stop-shingle cap
    (and predicts the pair fan-out of the exact engines): for each bucket
    ⌊log2(df)⌋, how many distinct shingles land there, how many exploded
    instances they account for, and the pair pressure Σdf·(df−1)/2 they
    would emit into a self-join. A corpus whose top bucket carries most of
    the pair pressure is template-heavy and needs the cap; one whose mass
    sits at df=1..2 doesn't.

    Determinism: all-integer (counts, int2(log2) via bit length — no
    floating log). Scale shape: one shingle explode → one shingle-keyed
    partial-agg shuffle (doc frequency) → one TINY bucket-keyed agg
    (≤ ~40 buckets) — linear, no joins, no pairs materialized.

    The explode takes the shingle expression INLINE (never `.alias("sh")`
    then `explode("sh")`): exploding an aliased expensive array lets
    InferFiltersFromGenerate + CollapseProject inline the whole
    tokenize→hash pipeline into an inferred Filter — measured 17× slower
    at the sf1 lane. The session default excludes that rule, but the
    inline shape keeps this operator fast on VANILLA sessions too."""
    freq = (
        ensure_parallelism(df)
        .select(id_col, lowered_tokens(text_col).alias("ts"))
        .filter(F.size("ts") >= k)
        .select(F.explode(F.array_distinct(word_ngrams(F.col("ts"), k))).alias("g"))
        .groupBy(F.xxhash64("g").alias("shingle"))
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # ⌊log2(df)⌋ via integer arithmetic both engines share: the bit length
    # of df, minus one — floor(ln/ln2) drifts at exact powers of two.
    bucket = (F.length(F.conv(F.col("df"), 10, 2)) - 1).alias("log2_df")
    # per-shingle pair count df·(df−1)/2 computed in long (exact for
    # df < 4.3e9 — a shingle can't exceed the doc count), summed in
    # decimal(38,0) so the BUCKET total can't wrap (p90's overflow rule)
    pairs = F.expr("df * (df - 1) div 2")
    return (
        freq.select(bucket, "df", pairs.alias("pp"))
        .groupBy("log2_df")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("df").alias("n_instances"),
            F.sum(F.col("pp").cast("decimal(38,0)"))
            .cast("long")
            .alias("pair_pressure"),
        )
    )


def minhash_est_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    shingle_k: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash ESTIMATED Jaccard for every LSH-candidate pair — the stage
    between p73 (signatures) and p34 (exact verification): pairs sharing
    at least one band bucket get the classic signature-agreement estimate
    E[agree/k] = J (Broder '97 / MMDS ch.3). This is the triage step a
    corpus-scale dedup runs BEFORE exact Jaccard: candidates come from
    banding (cheap), the estimate ranks them, and only the survivors hit
    the quadratic inverted-index verifier. Deterministic end-to-end: the
    p73 md5 permutation scheme, an integer agreement count, and one exact
    division by the literal ``k`` (a power of two — exact in binary).

    Returns ``(id_a, id_b, n_agree, est_jaccard)``.

    Scale shape: signatures via ONE shingle explode + ONE partial-agg
    groupBy (p73's plan); candidates via ``bands`` map-side band-key rows
    per doc and ONE equi-shuffle self-join on (band_idx, band_key) —
    bucket-bounded like p06's engine, never all-pairs; the per-band
    duplicate pairs collapse in a final pair-keyed partial agg. The
    signature array rides along the join rows (k·8 bytes), so no
    re-join against the signature table is needed.

    ``max_bucket`` (p06's hot-bucket rule): a band bucket of B members
    emits B² rows — exact duplicates share ALL bands, so one mass-
    duplicated page turns the triage itself quadratic. The cap drops
    buckets above it (documented recall loss on exactly those mass-dup
    clusters, which exact dedup should have removed upstream anyway).
    None (off) by default: the registered p91 query is the oracle-exact
    form; corpus deployments should set it like p06 does (200)."""
    # minhash_signatures_exact selects by the literal name "doc_id"
    # (its registered-query contract) — normalize the caller's id column
    # to it first so id_col is honored for real, not just as an output
    # rename (r10 review find).
    src = (
        df
        if id_col == "doc_id"
        else df.select(F.col(id_col).alias("doc_id"), text_col)
    )
    sigs = minhash_signatures_exact(
        src, text_col=text_col, k=k, shingle_k=shingle_k, bands=bands
    )
    sig_arr = F.array(*[F.col(f"s{i}") for i in range(k)]).alias("sig")
    banded = sigs.select(
        F.col("doc_id").alias(id_col),
        sig_arr,
        F.posexplode(F.array(*[F.col(f"b{j}") for j in range(bands)])).alias(
            "band_idx", "band_key"
        ),
    )
    if max_bucket is not None:
        # groupBy+join, not a window — p06's rationale verbatim: a hot
        # bucket is exactly what the cap handles, and a window would ship
        # all of it into one task; the join reuses the band-key exchange.
        ok = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band_idx", "band_key")
        )
        banded = banded.join(ok, ["band_idx", "band_key"])
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("sig").alias("sig_a"),
        "band_idx",
        "band_key",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("sig").alias("sig_b"),
        "band_idx",
        "band_key",
    ).hint("shuffle_hash")
    n_agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", n_agree.alias("n_agree"))
        .groupBy("id_a", "id_b")
        .agg(F.first("n_agree").alias("n_agree"))
        .select(
            "id_a",
            "id_b",
            "n_agree",
            (F.col("n_agree").cast("double") / F.lit(float(k))).alias(
                "est_jaccard"
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefilter_singletons: bool = False,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT all-pairs word-``k``-shingle CONTAINMENT — the asymmetric
    near-dup metric Jaccard misses: a short doc quoted whole inside a long
    one has |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0 (Broder '97 separates
    "resemblance" from "containment" for exactly this). Pairs where
    max(containment_a, containment_b) >= ``threshold`` — quote/subset/
    template duplication that survives p34's Jaccard gate.

    Same inverted-index engine as ``exact_jaccard_pairs`` (shared scale
    notes there: xxhash64 8-byte keys, shuffle_hash, sizes carried on the
    exploded rows, one partial-agg pair shuffle — and the same
    ``prefilter_singletons`` / ``max_doc_freq`` doc-frequency gates, with
    the same exact-vs-underestimate contracts); only the final metric
    differs. Both containments are single exact integer divisions —
    UNROUNDED by the q48 rule (bit-identical across engines)."""
    # shared engine: n_sh below the explode (r15), pair-keyed repartition
    # at input-derived width (r16) — see _pair_intersections
    inter = _pair_intersections(
        df, k, text_col, id_col, prefilter_singletons, max_doc_freq
    )
    ca = F.col("inter") / F.col("n_a")
    cb = F.col("inter") / F.col("n_b")
    return inter.filter(F.greatest(ca, cb) >= threshold).select(
        "id_a",
        "id_b",
        ca.alias("containment_a"),
        cb.alias("containment_b"),
    )


def dup_cluster_histogram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup REPORT a curation
    run publishes before deleting anything: for each exact-duplicate
    cluster size m (md5 of normalized text, the p01 fingerprint), how many
    clusters have that size, how many documents they hold, and how many
    are EXCESS copies an exact dedup would remove. Lee et al. 2022 report
    precisely this table to size the dedup win.

    Scale shape: one shuffle on the 16-byte fingerprint (uniform,
    partial-aggregated) to cluster sizes, then one tiny shuffle on the
    size value (cardinality = distinct cluster sizes, O(log corpus) in
    practice). All-integer output — exact on any engine."""
    fp = F.md5(normalize_text(F.col(text_col))).alias("fp")
    sizes = (
        df.filter(F.col(id_col).isNotNull())
        .select(fp)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        sizes.groupBy(F.col("m").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "excess_docs"
            ),
        )
    )


def decontamination_stats(
    df: DataFrame,
    eval_df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """EXACT benchmark-decontamination report: for every training document,
    how many of its distinct word-``k``-grams appear ANYWHERE in the
    held-out evaluation corpus (the n-gram-overlap contamination test of
    GPT-3 appendix C / PaLM / Llama eval cards — the exact counterpart of
    the p77 Bloom-filter screen, which trades these exact counts for a
    one-sided error sketch). Returns ``(id, n_ngrams, n_contaminated,
    contamination)`` with the rate an exact integer division.

    Scale shape: both sides reuse the p34 shingle derivation (one explode,
    distinct 8-byte xxhash64 keys — string-keyed oracle parity catches any
    count-perturbing collision). The eval side collapses to DISTINCT
    n-grams and is BROADCAST by default (benchmark suites are tiny —
    thousands of documents — next to a 100 TB corpus), so the corpus never
    shuffles for the probe; the only corpus shuffle is the final per-doc
    partial-agg. Set ``broadcast_eval=False`` for a corpus-sized eval side,
    which falls back to an equi-shuffle join on the hash keys.
    """

    def _grams(frame: DataFrame, keep_id: bool) -> DataFrame:
        shins = (
            ensure_parallelism(frame)
            .select(id_col, lowered_tokens(text_col).alias("ts"))
            .filter(F.size("ts") >= k)
        )
        ts = F.col("ts")
        if keep_id:  # n_ngrams counts DISTINCT n-grams
            return shins.select(
                id_col, F.explode(F.array_distinct(word_ngrams(ts, k))).alias("s")
            ).select(id_col, F.xxhash64("s").alias("g"))
        # the eval side is de-duplicated by the caller's distinct()
        return shins.select(F.explode(ngram_windows(ts, k)).alias("w")).select(
            F.xxhash64(join_window(F.col("w"), k)).alias("g")
        )

    ev = _grams(eval_df, keep_id=False).distinct().withColumn("hit", F.lit(1))
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        _grams(df, keep_id=True)
        .join(ev, "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias(
                "n_contaminated"
            ),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("contamination"),
        )
    )


def token_set_fingerprint(text: Column) -> Column:
    """Bag-of-words SET fingerprint: md5 of the sorted distinct lowercased
    whitespace tokens — the coarser content key (word order and repetition
    ignored) used for near-dup candidate keying when exact fingerprints are
    too strict. Pure codegen expressions."""
    return F.md5(
        F.array_join(
            F.array_distinct(F.array_sort(F.split(F.trim(F.lower(text)), r"\s+"))),
            " ",
        )
    )


def cross_source_leakage(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    key: str = "exact",
    max_cluster: int | None = None,
) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every unordered pair of
    sources, the number of distinct content fingerprints present in
    BOTH — the report that decides dedup ordering in a multi-source mix
    (which feeds overlap which, who wins ties) and flags license
    contamination between crawls. One row per (src_a < src_b) pair with
    ``n_shared`` distinct fingerprints. ``key`` picks the content key:
    ``"exact"`` (p01's normalized-text md5 — verbatim duplication) or
    ``"token_set"`` (sorted distinct-token md5 — order/repetition-blind
    near-duplication, the coarser screen that fires on template rewrites).

    Scale shape: distinct (fp, source) pairs (one partial-agg shuffle on
    the 128-bit fingerprint), then a fingerprint-keyed self-join that is
    bucket-bounded — a fingerprint shared by s sources emits s(s-1)/2 pair
    rows and s is capped by the source count (tens), NEVER by corpus size,
    so the join cannot go quadratic in documents. ``max_cluster`` (same
    contract as the LSH hot-bucket caps) additionally drops fingerprints
    duplicated across more than that many sources before pairing; with it
    set the matrix is a documented underestimate.
    """
    if key == "exact":
        fp = fingerprint(F.col(text_col))
    elif key == "token_set":
        fp = token_set_fingerprint(F.col(text_col))
    else:
        raise ValueError(f"unknown fingerprint key: {key!r}")
    fps = df.select(fp.alias("fp"), F.col(source_col).alias("src")).distinct()
    if max_cluster is not None:
        w = Window.partitionBy("fp")
        fps = (
            fps.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_cluster)
            .drop("_n")
        )
    a = fps.select("fp", F.col("src").alias("src_a"))
    b = fps.select("fp", F.col("src").alias("src_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 15,
) -> DataFrame:
    """Corpus-wide exact line-level deduplication with text reassembly —
    the RefinedWeb / CCNet boilerplate pass (Penedo et al. '23 §3.3,
    Wenzek et al. '19): any line (``\\n``-delimited) that appears anywhere
    earlier in the corpus is REMOVED from later documents, killing nav
    bars, cookie banners, and footer boilerplate that repeat verbatim
    across a crawl. "Earlier" is the deterministic (id, position) order,
    so the survivor set is reproducible run-to-run and engine-to-engine.

    Lines shorter than ``min_len`` characters are never dedup candidates
    (always kept): short lines are structure (blank separators, headings,
    "Home"), and removing every later blank line would destroy formatting
    — the same guard CCNet applies by hashing only substantial lines.

    Returns one row per input document: ``id_col``, ``n_lines`` (split
    count), ``n_removed`` (later-duplicate lines dropped), and
    ``clean_text`` (surviving lines re-joined by ``\\n`` in original
    order; empty string when nothing survives).

    Scale shape: explode to (id, pos, line) → first-occurrence per LONG
    line via groupBy(line).agg(min(struct(id, pos))) — a PARTIAL
    aggregation, so a boilerplate line repeated 10^9 times ships ONE
    partial row per map task, not 10^9 rows into one window partition
    (the hot-shingle lesson: groupBy+join, never a corpus window over a
    skewable key; a window or a collect-occurrences fold would funnel
    exactly the hot boilerplate this operator exists to remove into one
    task) — then ONE line-keyed LEFT join marks keepers (short lines miss
    the long-only build side and keep unconditionally, so they ride the
    same linear pipeline instead of a third scan branch; AQE skew-join
    splits any residual hot probe key), and one id-keyed aggregation
    reassembles. This build never reuses exchanges across DataFrame
    branches, so the agg+join form reads the corpus twice (the agg branch
    and the probe branch) — the deliberate price for skew immunity; with
    hot tables cached the second read is memory-resident. Nothing
    collects, nothing is quadratic. Reference: the reference stack is
    per-page (no cross-document state); this is the corpus-level operator
    a 100 TB curation run needs.
    """
    # NULL ids order FIRST (collapsed to LONG_MIN so the survivor rule is
    # total and NULL-safe on both engines — Spark's struct-min is
    # NULLS-FIRST, SQL window ORDER BY defaults NULLS-LAST); ties (two
    # NULL-id docs emitting the identical (pos, line)) all keep, the
    # rank()=1 semantics of the SQL twin.
    d0 = F.coalesce(
        F.col(id_col).cast("long"), F.lit(-9223372036854775808)
    ).alias("d0")
    lines = df.select(
        F.col(id_col),
        d0,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    )
    first = (
        lines.filter(F.length("line") >= min_len)
        .groupBy("line")
        .agg(F.min(F.struct("d0", "pos")).alias("fo"))
    )
    marked = lines.join(first, "line", "left").withColumn(
        "keep",
        F.col("fo").isNull()
        | (
            (F.col("fo.d0") == F.col("d0"))
            & (F.col("fo.pos") == F.col("pos"))
        ),
    )
    packed = F.array_sort(F.collect_list(F.struct("pos", "line", "keep")))
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(packed, lambda x: x["keep"]), lambda x: x["line"]
            ),
            "\n",
        ).alias("clean_text"),
    )
