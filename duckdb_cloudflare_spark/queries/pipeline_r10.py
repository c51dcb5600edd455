"""r10 pipeline operators — the round-10 additions, every one
oracle-bearing:

- p91: MinHash ESTIMATED Jaccard over LSH-candidate pairs — the triage
  stage between p73 (signatures) and p34 (exact verification): banding
  proposes, the signature-agreement estimate ranks, only survivors hit
  the quadratic exact verifier (Broder '97 / MMDS ch.3).
- p92: per-source exact length-distribution report (discrete p50/p90/p99
  by integer-exact rank) — the table a curation run publishes before
  setting C4/Gopher length gates.
- p93: shingle doc-frequency histogram — sizes the max_doc_freq
  stop-shingle cap and predicts the pair engines' fan-out.
- q56: trailing-7-day distinct-user activity over the events stream —
  the sliding-window COUNT(DISTINCT) Spark windows can't express
  directly, recast as a map-side day explode + one distinct agg.
- q57: day-0..13 retention-cohort matrix (first-seen cohorts × offsets).
- p94: PII detection + redaction (sequential email/IPv4/phone/SSN rules,
  per-category counts, map-only codegen regex chain).
- p95: EXACT n-gram benchmark decontamination — the audit table behind
  p31's thresholded flag; broadcast eval probe, corpus never shuffles
  for the join.
- p96: tokenizer-fertility report per language (integer-sum exact
  ratios).
- p97: domain-blocklist URL filtering (eTLD+1 collapse + broadcast
  join).
- p98: cross-source duplicate-leakage matrix (token-set fingerprints;
  join fan-out bounded by the source count).
- p99: vocabulary-growth (Heaps'-law) curve per id-range slice.
- p100: top-50 PMI collocations (Church & Hanks '90) with marginals
  folded from the bigram count table and TakeOrdered selection.

Conventions as ever: md5-for-oracle hashing (p19/p43/p57 trade), integer
ranks instead of floating ⌈q·n⌉, unrounded exact divisions (q48 rule),
doubles cast before multiplying (p74 overflow rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators import dedup as D
from duckdb_cloudflare_spark.operators import text_analysis as T
from duckdb_cloudflare_spark.queries import load, register
from duckdb_cloudflare_spark.util.sizing import ensure_parallelism

_TOKS_CTE = r"""
    toks AS (
        SELECT doc_id,
               list_transform(string_split_regex(trim(text), '\s+'),
                              x -> lower(x)) AS ts
        FROM documents
    )
"""


@register(
    "p91_minhash_est_jaccard",
    oracle=rf"""
    WITH {_TOKS_CTE},
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS s
        FROM toks WHERE len(ts) >= 3
    ), sig AS (
        SELECT doc_id,
               min(('0x' || substr(md5('0:' || s), 1, 15))::BIGINT) AS s0,
               min(('0x' || substr(md5('1:' || s), 1, 15))::BIGINT) AS s1,
               min(('0x' || substr(md5('2:' || s), 1, 15))::BIGINT) AS s2,
               min(('0x' || substr(md5('3:' || s), 1, 15))::BIGINT) AS s3,
               min(('0x' || substr(md5('4:' || s), 1, 15))::BIGINT) AS s4,
               min(('0x' || substr(md5('5:' || s), 1, 15))::BIGINT) AS s5,
               min(('0x' || substr(md5('6:' || s), 1, 15))::BIGINT) AS s6,
               min(('0x' || substr(md5('7:' || s), 1, 15))::BIGINT) AS s7
        FROM sh GROUP BY doc_id
    ), banded AS (
        SELECT doc_id, s0, s1, s2, s3, s4, s5, s6, s7, band_idx,
               CASE band_idx
                   WHEN 0 THEN md5(s0 || ',' || s1)
                   WHEN 1 THEN md5(s2 || ',' || s3)
                   WHEN 2 THEN md5(s4 || ',' || s5)
                   ELSE md5(s6 || ',' || s7)
               END AS band_key
        FROM sig, (SELECT unnest(range(4)) AS band_idx)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST((a.s0 = b.s0)::INT + (a.s1 = b.s1)::INT
                  + (a.s2 = b.s2)::INT + (a.s3 = b.s3)::INT
                  + (a.s4 = b.s4)::INT + (a.s5 = b.s5)::INT
                  + (a.s6 = b.s6)::INT + (a.s7 = b.s7)::INT AS BIGINT)
                   AS n_agree
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, n_agree,
           CAST(n_agree AS DOUBLE) / 8.0 AS est_jaccard
    FROM pairs
    """,
    description="MinHash estimated Jaccard for every LSH-candidate pair — "
    "the triage stage between p73 signatures and p34 exact verification: "
    "pairs sharing a band bucket get the signature-agreement estimate "
    "agree/k (Broder '97). operators/dedup.py::minhash_est_jaccard_pairs. "
    "Deterministic: p73's md5 permutation scheme, integer agreement "
    "count, one exact division by k=8 (power of two — exact in binary). "
    "Scale shape: p73's one-explode/one-partial-agg signature plan, 4 "
    "map-side band rows per doc, ONE (band_idx, band_key) equi-shuffle "
    "self-join — bucket-bounded, never all-pairs — and a pair-keyed "
    "partial-agg collapse; signature arrays ride the join rows so no "
    "re-join against the signature table.",
)
def p91_minhash_est_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.minhash_est_jaccard_pairs(d, k=8, shingle_k=3, bands=4)


@register(
    "p93_shingle_df_histogram",
    oracle=rf"""
    WITH {_TOKS_CTE},
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                   i -> hash(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])))) AS s
        FROM toks WHERE len(ts) >= 3
    ), freq AS (
        SELECT s, count(*) AS df FROM sh GROUP BY s
    )
    SELECT CAST(length(bin(df)) - 1 AS INT) AS log2_df,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS n_instances,
           CAST(sum(df * (df - 1) // 2) AS BIGINT) AS pair_pressure
    FROM freq GROUP BY 1
    """,
    description="Doc-frequency histogram of word-3-shingles in log2 "
    "buckets — the profiling report that SIZES the r10 max_doc_freq "
    "stop-shingle cap and predicts the exact pair engines' fan-out: "
    "distinct shingles, exploded instances, and pair pressure "
    "df*(df-1)/2 per bucket. operators/dedup.py::shingle_df_histogram. "
    "NOTE the oracle buckets by doc frequency, which is HASH-FREE math "
    "(DuckDB's hash() differs from xxhash64, but df counts per DISTINCT "
    "shingle are hash-independent absent collisions — the same parity "
    "argument p34 makes). Determinism: all-integer; floor(log2) via bit "
    "length (length(bin(df))-1 / conv base-2), never floating log, "
    "which drifts at exact powers of two. Scale shape: one shingle "
    "explode -> one shingle-keyed partial agg -> one <=40-row bucket "
    "agg; linear, no joins, no pairs materialized; bucket sums "
    "decimal-accumulated (p90 overflow rule).",
)
def p93_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.shingle_df_histogram(d, k=3)


@register(
    "p92_length_report",
    oracle="""
    WITH r AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
        WHERE n_chars IS NOT NULL AND source IS NOT NULL
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(n_chars) AS min_chars,
           min(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END)
               AS p50_chars,
           min(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END)
               AS p90_chars,
           min(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END)
               AS p99_chars,
           max(n_chars) AS max_chars,
           CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mean_chars
    FROM r GROUP BY source
    """,
    description="Per-source exact length-distribution report — n, min, "
    "discrete p50/p90/p99, max, unrounded mean — the table that sizes "
    "C4/Gopher length gates before anyone sets them. operators/"
    "text_analysis.py::length_report. Determinism: quantile rank is "
    "1-based ceil(q*n) computed in INTEGER arithmetic ((n*P + 99) div "
    "100), never floating 0.9*n (inexact binary; DuckDB's decimal "
    "literal and Spark's double diverge at exact multiples). Scale "
    "shape: one partition-keyed sort window (per-GROUP sorts, not "
    "global) + one partial-agg fold; the approx_percentile swap-in is "
    "documented for the many-group regime.",
)
def p92_length_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return T.length_report(d, len_col="n_chars", group_col="source")


@register(
    "q56_sliding_distinct_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        WHERE user_id IS NOT NULL
    ), days AS (SELECT DISTINCT day FROM du)
    SELECT d.day AS day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS users_7d,
           CAST(count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END)
                AS BIGINT) AS users_1d
    FROM days d JOIN du u
      ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
    GROUP BY d.day
    """,
    description="Trailing-7-day distinct active users per day over the "
    "events stream — the DAU/WAU-style sliding COUNT(DISTINCT) that Spark "
    "window frames cannot express (no DISTINCT aggregates over RANGE "
    "frames). Recast Spark-side (r10 reshape): ONE user-keyed agg "
    "collects each user's distinct day SET (calendar-bounded, map-side "
    "deduped); the user's COVERED days (union of [d, d+6], "
    "array_distinct) explode to at most one row per (user, day), so "
    "users_7d is a plain COUNT and users_1d a SUM of membership flags — "
    "no countDistinct Expand anywhere; observed days broadcast for the "
    "restriction join. Cross-engine determinism: all-integer counts, "
    "DATE keys (events.ts normalized by queries.load()).",
)
def q56_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 reshape (A/B at 10M events: 4.47 -> 1.73 s, values identical):
    # ONE user-keyed agg collects the distinct day set; each user's
    # COVERED days (union of [d, d+6], array_distinct map-side) explode
    # to at most one row per (user, day), so both window counts become
    # plain COUNT/SUM — the old shape paid a two-countDistinct Expand
    # over the 7x-exploded pairs.
    e = load(spark, sf_dir, "events")
    per = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.collect_set(F.to_date("ts")).alias("days"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform("days", lambda d: F.sequence(d, F.date_add(d, 6)))
        )
    )
    ex = per.select("days", F.explode(covered).alias("day")).select(
        "day", F.array_contains("days", F.col("day")).cast("long").alias("own")
    )
    days = (
        e.filter(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"))
        .distinct()
    )
    return (
        ex.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("users_7d"),
            F.sum("own").alias("users_1d"),
        )
    )


@register(
    "q57_retention_cohorts",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        WHERE user_id IS NOT NULL
    ), c AS (
        SELECT user_id, min(day) AS cohort_day FROM du GROUP BY user_id
    )
    SELECT c.cohort_day AS cohort_day,
           CAST(date_diff('day', c.cohort_day, du.day) AS BIGINT)
               AS offset_days,
           CAST(count(DISTINCT du.user_id) AS BIGINT) AS n_users
    FROM du JOIN c ON du.user_id = c.user_id
    WHERE date_diff('day', c.cohort_day, du.day) BETWEEN 0 AND 13
    GROUP BY 1, 2
    """,
    description="Day-0..13 retention-cohort matrix over the events "
    "stream: users grouped by first-seen day, distinct actives per "
    "(cohort, day-offset) cell — the standard cohort-retention table "
    "(offset 0 = cohort size by construction). Spark-side (r10 reshape): "
    "ONE user-keyed agg collects each user's distinct day SET (bounded "
    "by the calendar; partial agg dedups map-side), cohort and offsets "
    "derive map-side from the array, and the final agg is a plain COUNT "
    "(days are distinct per user, so no countDistinct Expand) — two "
    "shuffles total where the join formulation paid four. All-integer "
    "output; DATE cohort keys via queries.load()'s normalized events.ts.",
)
def q57_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TWO shuffles, not four (r10 reshape, A/B at 10M events: 1.68 ->
    # 1.22 s): ONE user-keyed agg collects the distinct day SET (bounded
    # by the calendar, not the event count — partial agg dedups map-side),
    # the cohort and 0..13 offsets derive map-side from that array, and
    # because days are distinct per user the final countDistinct becomes a
    # plain COUNT (no Expand). The old shape paid distinct + cohort agg +
    # join + distinct agg.
    e = load(spark, sf_dir, "events")
    per = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.collect_set(F.to_date("ts")).alias("days"))
    )
    cohort = F.array_min("days")
    offs = F.filter(
        F.transform("days", lambda d: F.datediff(d, cohort)),
        lambda o: (o >= 0) & (o <= 13),
    )
    return (
        per.select(cohort.alias("cohort_day"), F.explode(offs).alias("o"))
        .groupBy("cohort_day", F.col("o").cast("long").alias("offset_days"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- r10 second wave: PII scrub, decontamination, fertility, URL filtering,
# --- cross-source leakage -------------------------------------------------

# Interpolated from the operator's single source of truth so the oracle
# can NEVER test a stale copy of a pattern (r10 code-review find)
_PII_BY_NAME = {name: pat for name, pat, _tok in T.PII_RULES}
_PII_EMAIL = _PII_BY_NAME["email"]
_PII_IPV4 = _PII_BY_NAME["ipv4"]
_PII_PHONE = _PII_BY_NAME["phone"]
_PII_SSN = _PII_BY_NAME["ssn"]

_DIRTY_PII_SQL = """
        text
        || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@mail'
                || (doc_id % 5) || '.example.com' ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN ' call 555-'
                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || (doc_id % 256)
                || '.0.' || (doc_id % 100) ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
"""


@register(
    "p94_pii_scan",
    oracle=f"""
    WITH s0 AS (SELECT doc_id, {_DIRTY_PII_SQL} AS t FROM documents),
    s1 AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
                   AS n_email,
               regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
        FROM s0
    ), s2 AS (
        SELECT doc_id, n_email,
               CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT)
                   AS n_ipv4,
               regexp_replace(t, '{_PII_IPV4}', '<IPV4>', 'g') AS t
        FROM s1
    ), s3 AS (
        SELECT doc_id, n_email, n_ipv4,
               CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
                   AS n_phone,
               regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS t
        FROM s2
    ), s4 AS (
        SELECT doc_id, n_email, n_ipv4, n_phone,
               CAST(len(regexp_extract_all(t, '{_PII_SSN}')) AS BIGINT)
                   AS n_ssn,
               regexp_replace(t, '{_PII_SSN}', '<SSN>', 'g') AS t
        FROM s3
    )
    SELECT doc_id, n_email, n_ipv4, n_phone, n_ssn,
           n_email + n_ipv4 + n_phone + n_ssn AS n_pii,
           md5(t) AS redacted_fp
    FROM s4
    """,
    description="PII detection + redaction — the scrub every corpus runs "
    "before text leaves the curation zone (p23 is the minimal scrub; THIS "
    "is the audit report): sequential email/IPv4/phone/SSN "
    "rules, per-rule match counts, fully redacted text (hash-compared via "
    "md5). The corpus has no PII, so a deterministic DIRTY suffix is "
    "synthesized per doc_id (p63's fixture pattern) and the REAL operator "
    "(operators/text_analysis.py::pii_scan) scrubs it; the oracle runs the "
    "SAME regexes through DuckDB's RE2, so every pattern is cross-engine "
    "checked — patterns are kept in the Java-regex/RE2 common subset by "
    "contract. Rules apply in order against the previously-redacted text, "
    "so counts are non-overlapping by construction (an email's host can "
    "never re-count as an IPv4). Scale shape: map-only codegen "
    "regexp_count/regexp_replace chain — zero shuffles, zero Python.",
)
def p94_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    i = F.col("doc_id")

    def opt(cond, *parts):
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    dirty = F.concat(
        F.col("text"),
        opt(i % 3 == 0, F.lit(" contact u"), i.cast("string"), F.lit("@mail"),
            (i % 5).cast("string"), F.lit(".example.com")),
        opt(i % 4 == 0, F.lit(" call 555-"),
            F.lpad((i % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad((i % 10000).cast("string"), 4, "0")),
        opt(i % 5 == 0, F.lit(" host 10."), (i % 256).cast("string"),
            F.lit(".0."), (i % 100).cast("string")),
        opt(i % 7 == 0, F.lit(" ssn 123-45-"),
            F.lpad((i % 10000).cast("string"), 4, "0")),
    )
    scanned = T.pii_scan(d.select("doc_id", dirty.alias("text")))
    return scanned.select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_ssn", "n_pii",
        F.md5("redacted").alias("redacted_fp"),
    )


@register(
    "p95_ngram_decontaminate",
    oracle=rf"""
    WITH {_TOKS_CTE},
    g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ts) - 3),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
                        || ts[i+3] || ' ' || ts[i+4]))) AS g
        FROM toks WHERE len(ts) >= 5
    ),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 17 = 0),
    c AS (SELECT doc_id, g FROM g WHERE doc_id % 17 <> 0)
    SELECT c.doc_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(ev.g) AS BIGINT) AS n_contaminated,
           CAST(count(ev.g) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS contamination
    FROM c LEFT JOIN ev ON c.g = ev.g
    GROUP BY c.doc_id
    """,
    description="EXACT benchmark decontamination (GPT-3 appendix C style): "
    "per training document, the fraction of its distinct word-5-grams that "
    "appear anywhere in a held-out eval corpus — the full audit table "
    "behind p31's thresholded flag (p31 emits only docs over 10%; this "
    "reports every doc's exact counts). Docs with doc_id % 17 = 0 "
    "play the benchmark; the rest are the training corpus. The exact "
    "counterpart of the p77 Bloom screen — THIS is the audit table, the "
    "Bloom filter is the at-scale pre-filter. operators/dedup.py::"
    "decontamination_stats. Spark joins on 8-byte xxhash64 n-gram keys "
    "while the oracle joins the literal n-gram strings — the p34 parity "
    "argument: any count-perturbing collision fails the hash gate. Scale "
    "shape: eval n-grams DISTINCT then BROADCAST (benchmarks are tiny next "
    "to a 100 TB corpus), so the corpus is probed map-side and the only "
    "corpus shuffle is the per-doc partial agg; contamination is one exact "
    "integer division (q48 rule, unrounded).",
)
def p95_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    return D.decontamination_stats(
        d.filter(i % 17 != 0), d.filter(i % 17 == 0), k=5
    )


@register(
    "p96_token_fertility",
    oracle=r"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_ws_tokens,
           CAST(sum(len(regexp_extract_all(text,
                '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])'))) AS BIGINT)
               AS n_bpe_tokens,
           CAST(sum(length(text)) AS DOUBLE)
               / CAST(sum(len(regexp_extract_all(text,
                     '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])'))) AS DOUBLE)
               AS chars_per_bpe_token,
           CAST(sum(len(regexp_extract_all(text,
                '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])'))) AS DOUBLE)
               / CAST(sum(len(string_split_regex(trim(text), '\s+')))
                      AS DOUBLE)
               AS bpe_per_ws_token
    FROM documents
    WHERE length(trim(text)) > 0
    GROUP BY lang
    """,
    description="Tokenizer-fertility report per language — chars per "
    "BPE-ish subword token and subwords per whitespace word, the ratios a "
    "multilingual data mix is budgeted on (CJK ~1 char/token via the "
    "single-char fallback class, alphabetic languages ~4-5). operators/"
    "text_analysis.py::token_fertility_report over p02's tokenizer pair "
    "(whitespace + the BPE-ish pre-tokenizer regex, both already "
    "cross-engine-proven by p02). Ratios are single exact divisions of "
    "INTEGER sums — bit-identical across engines unrounded (q48 rule) — "
    "never means of per-doc floats. Scale shape: map-side codegen "
    "derivation + ONE partial-agg groupBy on a 5-value key; no skew, no "
    "Python, linear at 100 TB.",
)
def p96_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regexp_extract_all over full texts is the dominant cost — fan it out
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    return T.token_fertility_report(d, group_col="lang")


@register(
    "p97_domain_blocklist",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN (doc_id % 50) IN (3,7,11,19,23,31,42)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN (doc_id % 50) IN (3,7,11,19,23,31,42)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM documents
    GROUP BY source
    """,
    description="Domain-blocklist URL filtering (the UT1-style gate a "
    "crawl corpus passes before any text processing): registrable-domain "
    "derivation + broadcast hash join against the blocklist, reported as "
    "blocked/kept counts per source. The corpus has no URL column, so a "
    "deterministic URL is synthesized per doc (p63's fixture pattern: "
    "https://www.example<doc_id%50>.com/p/<doc_id>) and a 7-domain "
    "blocklist covers doc_id%50 in {3,7,11,19,23,31,42}; the oracle states "
    "the expected partition closed-form, so the whole pipeline — "
    "try_parse_url host extraction, eTLD+1 collapse of the www. label, "
    "normalized broadcast join, coalesce to false — is value-checked. "
    "operators/web.py::apply_domain_blocklist. Scale shape: blocklists "
    "are megabytes (broadcast build side); the 100 TB probe side never "
    "shuffles — the groupBy here is the report, not the filter.",
)
def p97_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_cloudflare_spark.operators.web import apply_domain_blocklist

    d = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://www.example"), (i % 50).cast("string"),
        F.lit(".com/p/"), i.cast("string"),
    )
    blocklist = [f"example{k}.com" for k in (3, 7, 11, 19, 23, 31, 42)]
    flagged = apply_domain_blocklist(
        d.select("doc_id", "source", url.alias("url")), blocklist
    )
    b = F.col("blocked").cast("int")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(b).cast("bigint").alias("n_blocked"),
        F.sum(1 - b).cast("bigint").alias("n_kept"),
    )


@register(
    "p98_cross_source_leakage",
    oracle="""
    WITH f AS (
        SELECT DISTINCT
               md5(list_aggr(list_sort(list_distinct(
                   string_split_regex(trim(lower(text)), '\\s+'))),
                   'string_agg', ' ')) AS fp,
               source AS src
        FROM documents
    )
    SELECT a.src AS src_a, b.src AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM f a JOIN f b ON a.fp = b.fp AND a.src < b.src
    GROUP BY 1, 2
    """,
    description="Cross-source duplicate-leakage matrix: distinct content "
    "fingerprints shared by each unordered source pair — the report that "
    "decides dedup ordering in a multi-source mix and flags inter-crawl "
    "contamination. operators/dedup.py::cross_source_leakage with "
    "key='token_set' (sorted-distinct-token md5 — the order/repetition-"
    "blind near-dup key; this corpus has NO verbatim cross-source dups, "
    "so the exact key would make the oracle vacuous — the exact path is "
    "pinned by test_r10_ops with planted duplicates instead). Scale "
    "shape: one partial-agg distinct on (fp, src), then a fingerprint-"
    "keyed self-join whose per-key fan-out is bounded by the SOURCE COUNT "
    "(s(s-1)/2, tens), never by corpus size — structurally immune to the "
    "all-pairs blowup; max_cluster caps even that if sources multiply.",
)
def p98_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.cross_source_leakage(d, key="token_set")


@register(
    "p99_vocab_growth",
    oracle=r"""
    WITH n AS (SELECT max(doc_id) + 1 AS nd FROM documents),
    toks AS (
        SELECT doc_id,
               list_transform(string_split_regex(trim(text), '\s+'),
                              x -> lower(x)) AS ts
        FROM documents
    ),
    tok AS (
        SELECT CAST((doc_id * 10) // nd AS INT) AS bucket,
               ts[i] || ' ' || ts[i+1] AS tok
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
              FROM toks WHERE len(ts) >= 2), n
    ),
    fb AS (SELECT tok, min(bucket) AS decile FROM tok GROUP BY tok),
    nb AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_new_tokens
        FROM fb GROUP BY decile
    )
    SELECT decile, n_new_tokens,
           CAST(sum(n_new_tokens) OVER (ORDER BY decile) AS BIGINT)
               AS vocab_size
    FROM nb
    """,
    description="Vocabulary-growth (Heaps'-law) curve: distinct lowercased "
    "token BIGRAMS first appearing in each of 10 equal id-range corpus "
    "slices, plus the running vocabulary size — the saturation report a "
    "tokenizer vocab/merge budget is sized against (bigrams, not unigrams: "
    "the merge-candidate space keeps growing after the unigram vocab "
    "saturates, and on this corpus the unigram curve collapses to one "
    "row — a vacuous oracle). operators/text_analysis.py::"
    "vocab_growth_curve(ngram=2). Determinism: slice membership is the exact "
    "integer (doc_id * 10) div (max_id + 1) — never a floating fraction "
    "of a percentile; all counts integer. Scale shape: one token explode "
    "-> one token-keyed partial agg (min slice per token, vocab-bounded) "
    "-> a 10-row fold; the running sum windows over TEN rows (single "
    "partition by construction, not corpus-scale); the max-id scalar "
    "rides a broadcast cross join, never a collect.",
)
def p99_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ensure_parallelism: the bigram explode is a higher-order-function map
    # (interpreted) — a single-file scan would serialize it on one task
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    return T.vocab_growth_curve(d, n_buckets=10, ngram=2)


@register(
    "p100_pmi_collocations",
    oracle=r"""
    WITH toks AS (
        SELECT list_transform(string_split_regex(trim(text), '\s+'),
                              x -> lower(x)) AS ts
        FROM documents
    ),
    bg AS (
        SELECT ts[i] AS w1, ts[i+1] AS w2
        FROM (SELECT ts, unnest(range(1, len(ts))) AS i
              FROM toks WHERE len(ts) >= 2)
    ),
    cab AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
    ca AS (SELECT w1, sum(n_ab) AS n_a FROM cab GROUP BY 1),
    cb AS (SELECT w2, sum(n_ab) AS n_b FROM cab GROUP BY 1),
    n AS (SELECT sum(n_ab) AS nt FROM cab)
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           round(ln((CAST(n_ab AS DOUBLE) * CAST(nt AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
               AS pmi
    FROM cab JOIN ca USING (w1) JOIN cb USING (w2), n
    WHERE n_ab >= 5
    ORDER BY round(ln((CAST(n_ab AS DOUBLE) * CAST(nt AS DOUBLE))
                      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
                 DESC,
             w1, w2
    LIMIT 50
    """,
    description="Top-50 consecutive-word collocations by pointwise mutual "
    "information (Church & Hanks '90) with a count>=5 stability floor — "
    "the association table behind tokenizer merge candidates and "
    "multiword-expression mining. operators/text_analysis.py::"
    "pmi_collocations. Determinism: PMI factors cast to double BEFORE "
    "multiplying (p74 overflow rule; c_ab*N exceeds int64 long before "
    "doubles lose these integers), one IEEE-exact ratio, ln through the "
    "same libm on both engines (DuckDB ln(), never its log10 'log' — the "
    "compat.py trap), selection ordered on the 6-dp ROUNDED pmi (the "
    "emitted value — 1-ulp libm divergence cannot reorder the k boundary, "
    "ADVICE r10) with a (w1, w2) tie-break. Scale "
    "shape: inline bigram explode -> ONE (w1,w2) partial-agg shuffle (the "
    "only corpus-sized exchange); marginals and the N scalar fold from "
    "the vocab^2-bounded count table; distributed TakeOrdered(50), no "
    "global sort.",
)
def p100_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    return T.pmi_collocations(d, top_k=50, min_count=5)


@register(
    "q58_event_transitions",
    oracle="""
    WITH t AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events WHERE user_id IS NOT NULL
    ),
    c AS (
        SELECT from_type, to_type, count(*) AS n
        FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
               AS p_transition
    FROM c
    """,
    description="First-order Markov transition matrix over per-user event "
    "sequences: for every (from_type, to_type) pair of CONSECUTIVE events "
    "of one user (ordered by ts NULLS LAST — stated explicitly because "
    "Spark defaults nulls first and DuckDB last — with an event_id "
    "tie-break: a total order, so lead() is deterministic), the count and the row-normalized "
    "transition probability — the behavioral-analytics table session-flow "
    "and agent-trace analysis start from. Spark-side: ONE user-keyed "
    "window (the same single shuffle class as q47's sessionize), a "
    "(from,to)-keyed partial agg on the event-type-squared-bounded count "
    "table, and the row normalization windows over that TINY table (tens "
    "of rows), never the events. p_transition is one exact integer "
    "division (q48 rule, unrounded — both engines divide the same int64 "
    "pair).",
)
def q58_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    # NULLS LAST explicitly: Spark's default asc is NULLS FIRST while
    # DuckDB's window ORDER BY defaults to NULLS LAST — a null-ts event
    # would otherwise produce different transition pairs cross-engine
    # (r10 code-review find, the q24-class null-ordering trap)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    t = (
        e.filter(F.col("user_id").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    c = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("from_type")
    return c.select(
        "from_type", "to_type", "n",
        (F.col("n").cast("double") / F.sum("n").over(tot).cast("double")).alias(
            "p_transition"
        ),
    )


@register(
    "p101_source_char_drift",
    oracle="""
    WITH ch AS (
        SELECT source AS src, unnest(string_split(text, '')) AS ch
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    ), cc AS (
        SELECT src, ch, CAST(count(*) AS DOUBLE) AS c
        FROM ch WHERE length(ch) > 0 GROUP BY src, ch
    ), nrm AS (
        SELECT src, sum(c * c) AS sq FROM cc GROUP BY src
    ), dt AS (
        SELECT a.src AS src_a, b.src AS src_b, sum(a.c * b.c) AS dot
        FROM cc a JOIN cc b ON a.ch = b.ch AND a.src < b.src
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(dot AS BIGINT) AS dot,
           round(dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) AS cosine
    FROM dt
    JOIN nrm na ON na.src = dt.src_a
    JOIN nrm nb ON nb.src = dt.src_b
    """,
    description="Cross-source character-distribution drift matrix: cosine "
    "between each source pair's per-codepoint count vectors — the cheap "
    "encoding/language drift detector run before tokenizer-level "
    "comparisons (a source that flipped charset or language drops "
    "visibly). operators/text_analysis.py::source_char_similarity, on "
    "p89's codepoint-exact explode (regexp '(?s).' ≡ DuckDB "
    "string_split(text,'')). Determinism: integer counts; products and "
    "sums stay integer-valued doubles (< 2^53, order-free exact; the "
    "p90 DECIMAL swap documented for beyond), one sqrt+division per "
    "pair, 6-dp round; `dot` emitted as an exact BIGINT check column. "
    "Scale shape: ONE corpus exchange (the (source,char) partial agg); "
    "the char-keyed self-join and norm joins touch only the alphabet x "
    "sources table.",
)
def p101_source_char_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    return T.source_char_similarity(d)
