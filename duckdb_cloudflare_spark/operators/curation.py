"""The end-to-end curation pass as a reusable operator.

``curate`` chains the anchored stages — Gopher-style quality gate → exact
dedup (first-id-wins on md5(text)) → exact-Jaccard near-dup connected
components keeping the longest member per cluster → temperature-based
stratum rebalancing → deterministic epoch shuffle — over ANY document
DataFrame. The p54 registry query binds it to the testdata corpus and
hash-verifies the whole composition against a single recursive-CTE DuckDB
program at sf0.01 and sf0.1; ``Engine.curate`` exposes it to users.

Every stage's scale notes live with its own operator (``dedup.py``); this
module only sequences them. Deterministic end to end: the output is
reproducible from the seeds alone.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from duckdb_cloudflare_spark.operators import dedup as D
from duckdb_cloudflare_spark.operators.text_analysis import join_window, ngram_windows

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_metrics(text_col: str = "text"):
    """The Gopher rule inputs (Rae et al. 2021's repetition-free subset) as
    columns: ``(n_words, mean_word_len, stop_hits)``. THE single source of
    these expressions — ``quality_gate`` (the filter), p53 (the diagnostic
    report), and the p54 capstone all build on it, so a threshold or
    stopword tweak cannot desynchronize them."""
    ts = D.lowered_tokens(text_col)
    n_words = F.size(ts).cast("bigint")
    total_len = F.aggregate(
        F.transform(ts, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    ).cast("bigint")
    mean_len = total_len.cast("double") / n_words
    stop_hits = F.size(F.filter(ts, lambda x: x.isin(*GOPHER_STOPWORDS))).cast(
        "bigint"
    )
    return n_words, mean_len, stop_hits


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 16,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style filter (Rae et al. 2021's repetition-free subset): word
    count window, mean-word-length window, minimum stopword hits. Map-only."""
    n_words, mean_len, stop_hits = gopher_metrics(text_col)
    return df.filter(
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
        & (stop_hits >= min_stopword_hits)
    )


def temperature_resample(
    df: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "resample:",
) -> DataFrame:
    """tau = 0.5 stratum flattening: keep iff seeded_uniform(id) <
    sqrt(min_n / n_stratum) — the smallest stratum keeps everything, the
    rest are down-sampled toward it. Per-stratum counts broadcast back;
    the corpus is map-only filtered, never shuffled."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n_s"))
    mn = counts.agg(F.min("n_s").alias("min_n"))
    # Null-safe join (ADVICE r5): groupBy keeps NULL as its own stratum, but
    # a plain equi-join would silently DROP every NULL-stratum row. <=> makes
    # NULL a first-class stratum, resampled like any other.
    counts_r = counts.withColumnRenamed(stratum_col, "__stratum_r")
    return (
        df.withColumn("__u", D.seeded_uniform(seed, F.col(id_col)))
        .join(
            broadcast(counts_r),
            F.col(stratum_col).eqNullSafe(F.col("__stratum_r")),
        )
        .crossJoin(broadcast(mn))
        .filter(F.col("__u") < F.sqrt(F.col("min_n").cast("double") / F.col("n_s")))
        .select(*df.columns)
    )


class CurationStages(NamedTuple):
    """The frames one curation pass builds, in stage order: ``curate``
    shards ``sampled``, and the p60 funnel counts every stage."""

    gated: DataFrame
    exact: DataFrame
    canon: DataFrame
    sampled: DataFrame


def curation_stages(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    score_col: str = "n_chars",
    jaccard_threshold: float = 0.5,
    shingle_k: int = 3,
    resample_seed: str = "resample:",
) -> CurationStages:
    """The quality gate → exact dedup → near-dup canonical → temperature
    resample stages over ``docs``. The near-dup components' rounds run
    when this is called (see ``dedup.connected_components``)."""
    gated = quality_gate(docs, text_col).select(
        id_col, stratum_col, score_col, text_col
    )

    w_exact = Window.partitionBy(F.md5(text_col)).orderBy(id_col)
    exact = (
        gated.withColumn("__rn", F.row_number().over(w_exact))
        .filter(F.col("__rn") == 1)
        .select(id_col, stratum_col, score_col)
    )

    # Near-dup components over the exact survivors only — semi join BEFORE
    # shingling, so the corpus that didn't survive never pays the explode.
    survivors_text = docs.join(exact.select(id_col), id_col, "left_semi")
    pairs = D.exact_jaccard_pairs(
        survivors_text, k=shingle_k, threshold=jaccard_threshold,
        text_col=text_col, id_col=id_col,
    ).select("id_a", "id_b")
    comp = D.connected_components(pairs)
    w_canon = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    canon = (
        exact.join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("component", F.coalesce("component", id_col))
        .withColumn("__rn", F.row_number().over(w_canon))
        .filter(F.col("__rn") == 1)
        .select(id_col, stratum_col)
    )

    sampled = temperature_resample(
        canon, stratum_col=stratum_col, id_col=id_col, seed=resample_seed
    )
    return CurationStages(gated, exact, canon, sampled)


def curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    score_col: str = "n_chars",
    jaccard_threshold: float = 0.5,
    shingle_k: int = 3,
    resample_seed: str = "resample:",
    epoch_seed: str = "epoch-7:",
    n_shards: int = 8,
) -> DataFrame:
    """Full deterministic curation pass over ``docs`` (needs ``id_col``,
    ``text_col``, ``stratum_col``, ``score_col`` columns). Returns
    ``(id_col, stratum_col, shard, pos_in_shard)`` — the training-ready
    corpus assignment, reproducible from the seeds alone. Feed the result
    to ``sources.write.write_epoch_shards`` to materialize training order.
    """
    sampled = curation_stages(
        docs, text_col=text_col, id_col=id_col, stratum_col=stratum_col,
        score_col=score_col, jaccard_threshold=jaccard_threshold,
        shingle_k=shingle_k, resample_seed=resample_seed,
    ).sampled
    return D.epoch_shard_assign(
        sampled, seed=epoch_seed, n_shards=n_shards, id_col=id_col
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-version diff — the incremental-pipeline primitive between two
    corpus snapshots (yesterday's crawl vs today's): per document id, one of
    ``added`` / ``removed`` / ``changed`` / ``unchanged``, decided by an
    md5 content fingerprint.

    Scale shape: each side reduces to (id, 16-byte fingerprint) BEFORE the
    full outer join, so document text never shuffles — the join moves two
    narrow columns per side no matter how wide the corpus rows are. One
    shuffle per side on the id; at 100 TB pre-bucket both snapshots by id
    (operators/scale.py) and the join is zero-exchange."""
    o = old.select(
        F.col(id_col).alias("__id"), F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("__old_fp")
    )
    n = new.select(
        F.col(id_col).alias("__id"), F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("__new_fp")
    )
    return (
        o.join(n, "__id", "full")
        .select(
            F.col("__id").alias(id_col),
            F.when(F.col("__old_fp").isNull(), F.lit("added"))
            .when(F.col("__new_fp").isNull(), F.lit("removed"))
            .when(F.col("__old_fp") != F.col("__new_fp"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
    )


def source_mix_entropy(df: DataFrame, group_col: str = "source") -> DataFrame:
    """Corpus-composition diversity report — the single-row mixture audit a
    data-mixing run publishes (Xie et al. DoReMi / the Pile's composition
    tables): Shannon entropy of the source-share distribution (nats), the
    "effective source count" exp(H) (how many EQUALLY-sized sources this
    mix is worth), and the heaviest source's share. A corpus 95% dominated
    by one crawl has effective_sources ≈ 1 no matter how many names appear.

    Determinism: shares p_i = cnt_i / total are single exact-integer
    divisions (bit-identical); each p·ln p term is canonicalized as an
    exact nano-unit bigint (1e9 — terms are ≤ 1/e so nano keeps 9
    significant digits; the p79/p83 integer-exact-fold convention), so the
    entropy sum is order-free and H itself is ONE unrounded division.
    exp(H) is rounded 6 dp (transcendental endpoint). Scale shape: one
    partial-agg shuffle (source) to a source-cardinality table, then a
    1-row fold — the 100 TB group-count shape, no joins."""
    cnts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = cnts.agg(F.sum("cnt").alias("total"))
    p = F.col("cnt").cast("double") / F.col("total").cast("double")
    term_nano = F.round(p * F.log(p) * 1e9, 0).cast("long")
    per = cnts.crossJoin(broadcast(tot)).select(
        "cnt", F.col("total"), term_nano.alias("t_nano"), p.alias("share")
    )
    h = (-F.sum("t_nano")).cast("double") / F.lit(1e9)
    return per.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.first("total").alias("n_docs"),
        h.alias("entropy"),
        F.round(F.exp(h), 6).alias("effective_sources"),
        F.max("share").alias("max_share"),
    )


def shard_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size_col: str | None = "n_chars",
    num_shards: int = 64,
) -> DataFrame:
    """Reproducible training-shard assignment + per-shard manifest — the
    bookkeeping a 100 TB export publishes next to its shards so any
    consumer (or a re-run months later) can verify it received exactly
    the intended bytes. Documents are assigned by a deterministic
    md5-derived hash of their id (``shard = md5_60('shard:'||id) %
    num_shards``), NOT by partition index or arrival order, so the
    assignment is stable under repartitioning, retries, and engine
    changes. Each shard row carries:

    - ``n_docs``, ``n_chars`` (sum of ``size_col``; 0 if None),
    - ``min_id`` / ``max_id`` (the id range sanity check),
    - ``fingerprint``: an ORDER-INDEPENDENT content checksum — the sum of
      per-document md5 hashes of ``id:text`` reduced mod 1e9+7. Sums
      commute, so the fingerprint is identical however the shard's rows
      were partitioned or ordered — the property a distributed writer
      needs (a concatenation-order checksum would be non-deterministic
      under parallel writes). Mod keeps the running sum inside int64 for
      any realistic shard (9.2e18 / 1e9 ≈ 9e9 docs per shard).

    Scale shape: map-side hash derivation + ONE partial aggregation to
    ``num_shards`` rows. No joins, no windows, no skew (md5 is uniform).
    """
    from duckdb_cloudflare_spark.operators.sketches import _md5_int60

    idc = F.col(id_col)
    doc_fp = _md5_int60(
        F.concat(idc.cast("string"), F.lit(":"), F.coalesce(F.col(text_col), F.lit(""))),
        "fp:",
    ) % F.lit(1000000007)
    size = (
        F.coalesce(F.col(size_col), F.lit(0)).cast("bigint")
        if size_col
        else F.lit(0).cast("bigint")
    )
    return (
        df.select(
            (_md5_int60(idc, "shard:") % F.lit(num_shards)).alias("shard_id"),
            idc.alias("_id"),
            size.alias("_sz"),
            doc_fp.alias("_fp"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_sz").cast("bigint").alias("n_chars"),
            F.min("_id").alias("min_id"),
            F.max("_id").alias("max_id"),
            F.sum("_fp").cast("bigint").alias("fingerprint"),
        )
    )


def assign_split(
    id_col: str = "doc_id", train_pct: int = 80, valid_pct: int = 10
) -> F.Column:
    """Deterministic train/valid/test assignment: md5-bucket of the id
    (first-8-hex mod 100 — the repo's cross-engine hash idiom) against
    cumulative percentage cuts. Pure column expression: splits are a
    FUNCTION of the id, so any worker (or any engine) recomputes the
    same assignment with no split table to store, ship, or join — the
    standard hash-split contract for 100 TB corpora."""
    b = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


def split_leakage_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    train_pct: int = 80,
    valid_pct: int = 10,
) -> DataFrame:
    """Deterministic corpus split + cross-split contamination audit — the
    check a training pipeline runs BEFORE publishing an eval split: a
    held-out document that shares verbatim word-``shingle_k``-grams with
    the train split is compromised (the decontamination literature's
    n-gram-overlap definition, Brown et al. 2020 App. C / Lee et al.
    2022 — here applied BETWEEN a corpus's own splits rather than
    against an external benchmark, the leakage mode hash splits do NOT
    prevent when near-duplicate documents land on opposite sides of the
    cut). Returns one row per eval split: ``(split, n_docs,
    n_contaminated, contamination_rate, n_shared_shingles)``.

    Scale shape: the split is a map-side expression (``assign_split`` —
    no split table); each doc explodes its DISTINCT shingles once; the
    train-side shingle vocabulary is collapsed by a partial-agg DISTINCT
    and met by the eval side in ONE shingle-keyed equi-join (hot
    boilerplate shingles are bounded by the per-doc array_distinct and
    the train-side distinct); the report is a ≤2-row fold. At real
    scale the train vocabulary is itself sharded by the same join key —
    never broadcast, never collected (the bloom-filter variant of this
    gate is ``decontaminate_bloom``; this is the exact path that sizes
    it). ``contamination_rate`` is ONE exact-integer division, unrounded
    (q48 rule); every other output is an exact count."""
    d = df.select(
        F.col(id_col),
        assign_split(id_col, train_pct, valid_pct).alias("split"),
        D.lowered_tokens(text_col).alias("ts"),
    )
    sh = d.select(
        id_col, "split", F.explode(ngram_windows(F.col("ts"), shingle_k)).alias("w")
    ).select(id_col, "split", join_window(F.col("w"), shingle_k).alias("sh"))
    train_sh = (
        sh.filter(F.col("split") == "train").select("sh").distinct()
        .withColumn("__hit", F.lit(1))
    )
    # the train vocabulary is CORPUS-SIZED and must shard by the join
    # key — but Spark's estimator prices a distinct's output near its
    # input's column stats and happily BROADCASTS millions of shingle
    # strings (measured: 45 s at 10× sf0.1 vs 25 s at 100×, where the
    # estimate finally crossed the threshold and the plan flipped to a
    # shuffle join). The hint forces the shuffle-hash plan at every
    # scale; never remove it on "the estimate looks small".
    ev = (
        sh.filter(F.col("split") != "train")
        .join(train_sh.hint("shuffle_hash"), "sh", "left")
        .groupBy("split")
        .agg(
            F.count_distinct(
                F.when(F.col("__hit").isNotNull(), F.col(id_col))
            ).alias("n_contaminated"),
            F.count_distinct(
                F.when(F.col("__hit").isNotNull(), F.col("sh"))
            ).alias("n_shared_shingles"),
        )
    )
    per_split = (
        d.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        per_split.join(ev, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("contamination_rate"),
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
        )
    )


def mix_plan(
    df: DataFrame,
    budget_frac: float = 0.5,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget mixture plan — the per-source sampling table a
    pretraining run publishes in its data card (The Pile's Table 1,
    LLaMA's sampling proportions): given the corpus's per-source token
    counts and a total token budget (``budget_frac`` of the corpus),
    temperature-flatten the source distribution at tau = 0.5 (the
    sqrt-smoothing convention of multilingual sampling, XLM-R/mT5 —
    and of ``temperature_resample``, which draws DOCS; this plans
    TOKENS) and report, per source: tokens available, mixture weight,
    target tokens, sampling rate, and the oversampling epoch count
    (rate > 1 means the source repeats — the small-source upweighting
    temperature sampling exists to produce). The actual draw is
    ``dsir_resample``/``priority_sample``'s machinery (p80/p86); this
    is the plan that sizes it.

    Determinism: tau = 0.5 means sqrt — a single IEEE operation, bit-
    identical everywhere (the reason tau is fixed rather than a free
    pow(), whose libm varies); sqrt weights are canonicalized as
    micro-unit bigints, so their sum is exact and every downstream
    number is either an exact integer (target = floor(T·w) of an
    exact-integer-double product, epochs = integer ceiling division)
    or ONE unrounded division of exact-integer doubles (q48 rule).
    Scale shape: ONE source-keyed partial agg collapses the corpus to
    |sources| rows; a 1-row totals fold broadcast back onto them; the
    corpus is touched exactly once, nothing else leaves the fold."""
    ts = D.lowered_tokens(text_col)
    n_tok = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(ts)).cast("long")
    per = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("tokens_available"),
        )
        .filter(F.col("tokens_available") > 0)
        .withColumn(
            "a_nm",
            F.round(F.sqrt(F.col("tokens_available").cast("double")) * 1e6, 0)
            .cast("long"),
        )
    )
    tot = per.agg(
        F.sum("tokens_available").alias("total_tokens"),
        F.sum("a_nm").alias("a_sum"),
    )
    # floor() on both engines — a bare double->bigint CAST would truncate
    # in Spark but round in DuckDB (cross-engine trap)
    T = F.floor(
        F.col("total_tokens").cast("double") * F.lit(budget_frac)
    ).cast("long")
    w = F.col("a_nm").cast("double") / F.col("a_sum").cast("double")
    target = F.floor(T.cast("double") * w).cast("long")
    base = per.crossJoin(broadcast(tot)).select(
        source_col,
        "n_docs",
        "tokens_available",
        w.alias("mix_weight"),
        target.alias("target_tokens"),
    )
    return base.select(
        source_col,
        "n_docs",
        "tokens_available",
        "mix_weight",
        "target_tokens",
        (
            F.col("target_tokens").cast("double")
            / F.col("tokens_available").cast("double")
        ).alias("sampling_rate"),
        F.expr(
            "(target_tokens + tokens_available - 1) div tokens_available"
        ).alias("n_epochs"),
    )


def interleave_order(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    top_n: int = 200,
) -> DataFrame:
    """Deterministic WEIGHTED source interleaving — the training-order
    stream a data loader consumes: every document gets a priority
    ``prio = h / r_s`` where ``h`` is a uniform-[0,1) hash of its id and
    ``r_s = min_w / sqrt(n_docs_s)`` (``min_w`` the smallest source's
    sqrt weight) its sampling rate: the smallest source streams at FULL
    rate, larger sources are subsampled by the sqrt ratio — the p118
    temperature-flattening idiom (tau=0.5) as a stream order. A prefix
    at threshold t holds ``n_s * t * r_s ∝ sqrt(n_s)`` docs per source,
    so dominant sources are flattened toward their sqrt share — without
    any per-source rank window. Output: the first ``top_n`` positions
    ``(pos, doc_id, source, prio)``.

    Scale shape (the reason this is NOT a row_number-per-source design):
    a per-source rank window puts each source's ENTIRE corpus slice in
    one task — a straggler at 100 TB. Here the weights are ONE bounded
    source-keyed fold (|sources| rows, broadcast back), prio is
    map-side, and the global order is a TakeOrdered top_n — fully
    parallel, nothing corpus-sized shuffles. The tiny top_n result gets
    its positions from a single-partition window over top_n rows.

    Determinism: h = first-8-hex-md5 bigint / 2^32 (exact-int division);
    sqrt/div are correctly-rounded IEEE ops over exact-integer doubles,
    so prio is bit-identical cross-engine (no summation anywhere); ties
    break (prio, doc_id)."""
    d = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")
    )
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    mn = per.agg(
        F.min(F.sqrt(F.col("n_docs").cast("double"))).alias("min_w")
    )
    rates = per.crossJoin(broadcast(mn)).select(
        "source",
        (F.col("min_w") / F.sqrt(F.col("n_docs").cast("double"))).alias("r"),
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0)
    )
    prio = (h / F.col("r")).alias("prio")
    top = (
        d.join(broadcast(rates), "source")
        .select("doc_id", "source", prio)
        .orderBy("prio", "doc_id")
        .limit(top_n)
    )
    w = Window.orderBy("prio", "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("pos"),
        "doc_id",
        "source",
        "prio",
    )
