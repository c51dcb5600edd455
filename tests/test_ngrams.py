"""Characterization of every word n-gram, shingle and bigram builder.

One tiny in-memory frame carries the token shapes the builders must agree
on: NULL text, blank text, a tab-led text (whose raw whitespace split
yields an empty first token), texts of 1, k-1 and k tokens, a document
that repeats one shingle, mixed whitespace, and letters whose lower case
is context- or length-changing ("İstanbul", a word-final Greek sigma).
Each case pins the rows an operator returns on it as the sha256 of its
sorted rows (floats by ``repr``), so a change to how windows are built,
joined, hashed or de-duplicated cannot silently change a result.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from duckdb_cloudflare_spark.operators import curation as C
from duckdb_cloudflare_spark.operators import dedup as D
from duckdb_cloudflare_spark.operators import text_analysis as T

K = 3
SCHEMA = "doc_id long, text string, source string"
ROWS = [
    (1, None, "a"),  # NULL text
    (2, "   ", "a"),  # blank text
    (3, "\tAlpha beta gamma delta", "a"),  # tab-led: raw split gives ""
    (4, "one", "b"),  # 1 token
    (5, "two words", "b"),  # k-1 tokens
    (6, "three word text", "b"),  # k tokens
    (7, "the cat sat the cat sat the cat sat on the mat", "a"),  # repeats
    (8, "İstanbul is a city İstanbul is big", "c"),
    (9, "The Cat sat on the mat today", "c"),
    (10, "alpha beta gamma delta epsilon", "b"),
    (11, "ΟΔΟΣ ΚΑΙ ΟΔΟΣ", "c"),  # final sigma
    (12, "  spaced   out   words here  ", "a"),
    (13, "a\nb c\td e the cat sat", "c"),
]
EVAL_ROWS = [
    (100, "the cat sat on the mat", "e"),
    (101, "alpha beta gamma", "e"),
    (102, None, "e"),
]


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def _digest(df) -> tuple[int, str]:
    rows = sorted(repr(_canon(list(r))) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _cases(df, ev):
    even = (F.col("doc_id") % 2) == 0
    return {
        "shingles": lambda: df.select(
            "doc_id", D.shingles(F.col("text"), K).alias("sh")
        ),
        "shingles_k1": lambda: df.select(
            "doc_id", D.shingles(F.col("text"), 1).alias("sh")
        ),
        "lowered_tokens": lambda: df.select(
            "doc_id", D.lowered_tokens().alias("ts")
        ),
        "exact_jaccard_pairs": lambda: D.exact_jaccard_pairs(
            df, k=K, threshold=0.0
        ),
        "containment_pairs": lambda: D.containment_pairs(
            df, k=K, threshold=0.0
        ),
        "shingle_df_histogram": lambda: D.shingle_df_histogram(df, k=K),
        "duplicated_ngram_stats": lambda: D.duplicated_ngram_stats(df, k=K),
        "dup_span_stats": lambda: D.dup_span_stats(df, k=K),
        "chunk_digests": lambda: D.chunk_digests(df, chunk_tokens=2),
        "md5_minhash_sigs": lambda: D.md5_minhash_sigs(df, k=4, shingle_k=K),
        "minhash_signatures_exact": lambda: D.minhash_signatures_exact(
            df, k=8, shingle_k=K, bands=4
        ),
        "decontamination_stats": lambda: D.decontamination_stats(df, ev, k=K),
        "split_leakage_report": lambda: C.split_leakage_report(
            df, shingle_k=K, train_pct=50, valid_pct=25
        ),
        "repetition_stats": lambda: T.repetition_stats(df),
        "pmi_collocations": lambda: T.pmi_collocations(
            df, top_k=50, min_count=1
        ),
        "bigram_xent": lambda: T.bigram_xent(df, even, n_buckets=16),
        "bigram_model_pairs": lambda: T.bigram_model(df, even, n_buckets=16)[0],
        "bigram_model_ctx": lambda: T.bigram_model(df, even, n_buckets=16)[1],
        "vocab_growth_curve_1": lambda: T.vocab_growth_curve(
            df, n_buckets=3, ngram=1
        ),
        "vocab_growth_curve_2": lambda: T.vocab_growth_curve(
            df, n_buckets=3, ngram=2
        ),
        "identify_language": lambda: df.select(
            "doc_id", T.identify_language(F.col("text")).alias("lang")
        ),
    }


# (row count, sha256 of the sorted canonical rows), recorded from the
# builders as they stood before they shared one n-gram primitive.
EXPECTED = {
    "bigram_model_ctx": (10, "daf0134662dade8e64278fa549c9f4a32ff486d112d30a48c2e59e77acc24a55"),
    "bigram_model_pairs": (14, "d246de98614f8a73b5b089ff25aded8dd2d643b7906b53cc7f4f799cd7062206"),
    "bigram_xent": (10, "0faeb16168229ab0cf592223099742549cc133aaf37adde33715f5fd46ebeba2"),
    "chunk_digests": (33, "9a003731d7ec0efb5ebc17635f6590c0bedff169f67d9ad417df1abface3ec5e"),
    "containment_pairs": (4, "ff79794308f111f57d6db454e27d6d1b022cd9421fe8fef14452a405fbe50f14"),
    "decontamination_stats": (9, "a0bda39e3ee45042cf20e2922c3bdcfd3b9b91871ff9aa288bf8cdacd8f3601b"),
    "dup_span_stats": (5, "c1339fb805c3724580520d321f196ed66db621fc458a07c4743631aab89a830c"),
    "duplicated_ngram_stats": (9, "9d3ea7c36091ff251bdf2db3940e75d8a5ae83d0ff8909d345b38fec7bc5203b"),
    "exact_jaccard_pairs": (4, "6f7e4ec84cf86852de8a03363adef9e3f46b019d8a2b85342c10fbf6d2ddbf32"),
    "identify_language": (13, "e89f3abdecfbd6eae3151cce5540349f99440050226cb553c1718a5eb58f635d"),
    "lowered_tokens": (13, "0236874ed5a1a821a50edbada268dfea00b2b1dc36fdccf1d8ad872c7e3191ae"),
    "md5_minhash_sigs": (9, "2b389b6285ab7bedc460facae31d0963d45a412559f7717461006d974a175870"),
    "minhash_signatures_exact": (9, "2defcdf705a81a5b7ff500bb3f45baeb94f5836736ca39f9274098ab783f8948"),
    "pmi_collocations": (30, "18ad2472521be11b0b5490d7480bf280324cd3b3349e3b59a189c70f5a3cdfb5"),
    "repetition_stats": (13, "88510a6f113e4d78e7044d27ff921d497138459743f294042a37072bde0c0102"),
    "shingle_df_histogram": (2, "12c8267da275fbf986b448c87cb4777d04ce7bece27561fdf3407aaa8a7c4ae2"),
    "shingles": (13, "b6f2ef7a00b6a1902b4deaffaca7c6e6ffcc2b7c743931ba7cf4218dc6e12d7b"),
    "shingles_k1": (13, "81477459edae4cf462cebcac10f1b04798d97038087c8ed892c4e46ded571e1b"),
    "split_leakage_report": (2, "66504d067c21e7ca1302b8d7e1eb58a1a422050a613ab9bc228a4fd69fbab72c"),
    "vocab_growth_curve_1": (3, "cff409c0218e2a093bbef14684f1b429b26c62e1220593df3cdd1ad257f3ef34"),
    "vocab_growth_curve_2": (3, "c4c7d54b859e1e03a408e3a6c976cd123a31f1131e20f586146e3391b4d5e64d"),
}


@pytest.fixture(scope="module")
def cases(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    ev = spark.createDataFrame(EVAL_ROWS, SCHEMA)
    return _cases(df, ev)


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_builder_rows_are_pinned(cases, name):
    assert _digest(cases[name]()) == EXPECTED[name]


def test_shingles_literal(cases):
    got = {r["doc_id"]: r["sh"] for r in cases["shingles"]().collect()}
    assert got[1] == []
    assert got[2] == []
    assert got[4] == ["one"]
    assert got[5] == ["two words"]
    assert got[6] == ["three word text"]
    # distinct, in first-occurrence order
    assert got[7] == [
        "the cat sat", "cat sat the", "sat the cat", "cat sat on",
        "sat on the", "on the mat",
    ]
    # the tab survives trim, so the first token is empty
    assert got[3] == [" Alpha beta", "Alpha beta gamma", "beta gamma delta"]


# ---------------------------------------------------------------------------
# text_analysis.ngram_windows: the one n-gram primitive
# ---------------------------------------------------------------------------


def _windows(spark, rows, schema, n):
    df = spark.createDataFrame(rows, schema)
    out = df.select("id", T.ngram_windows(F.col("a"), n).alias("w"))
    return {
        r["id"]: None if r["w"] is None else [tuple(x) for x in r["w"]]
        for r in out.collect()
    }


def test_ngram_windows_edges(spark):
    got = _windows(
        spark,
        [(1, []), (2, ["a"]), (3, ["a", "b"]), (4, None), (5, ["a", "b", "c"])],
        "id int, a array<string>",
        2,
    )
    assert got == {
        1: [],
        2: [],
        3: [("a", "b")],
        4: None,
        5: [("a", "b"), ("b", "c")],
    }


def test_ngram_windows_any_element_type(spark):
    got = _windows(
        spark, [(1, [1, 2, 3, 4]), (2, [7, None, 9])], "id int, a array<bigint>", 3
    )
    assert got == {1: [(1, 2, 3), (2, 3, 4)], 2: [(7, None, 9)]}
    assert _windows(spark, [(1, [5, 6])], "id int, a array<bigint>", 1) == {
        1: [(5,), (6,)]
    }
    with pytest.raises(ValueError, match="n must be >= 1"):
        T.ngram_windows(F.col("a"), 0)


def test_word_ngrams_join_with_single_spaces(spark):
    df = spark.createDataFrame(
        [(1, ["", "a", "b"]), (2, ["x"]), (3, None)], "id int, a array<string>"
    )
    got = {
        r["id"]: r["g"]
        for r in df.select("id", T.word_ngrams(F.col("a"), 2).alias("g")).collect()
    }
    assert got == {1: [" a", "a b"], 2: [], 3: None}


def test_ngram_windows_total_below_pushed_filter(spark, tmp_path):
    """Catalyst pushes a predicate on the windows below the projection, so
    the primitive is evaluated on rows of every length — including the
    short and NULL rows a size filter further up would have dropped. It
    must not fault there under ANSI."""
    path = str(tmp_path / "arrs")
    spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, ["x"]), (3, []), (4, None)],
        "id int, a array<string>",
    ).write.parquet(path)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = (
            spark.read.parquet(path)
            .select("id", "a", T.ngram_windows(F.col("a"), 3).alias("w"))
            .filter(F.size("w") >= 0)
            .filter(F.size("a") >= 3)
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        [filt] = [ln for ln in plan.splitlines() if "Filter" in ln]
        # the window predicate sits in the scan-side Filter, first
        assert filt.index("arrays_zip") < filt.index(">= 3")
        got = [(r["id"], [tuple(x) for x in r["w"]]) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == [(1, [("a", "b", "c"), ("b", "c", "d")])]


# ---------------------------------------------------------------------------
# Guard: the retired n-gram builders stay retired
# ---------------------------------------------------------------------------


def _sources():
    import pathlib

    pkg = pathlib.Path(T.__file__).resolve().parents[1]
    for sub in ("operators", "queries"):
        for path in sorted((pkg / sub).glob("*.py")):
            yield path, path.read_text()


def _call_args(src: str, start: int) -> str:
    """The argument text of the call whose '(' is at ``start``."""
    depth = 0
    for i in range(start, len(src)):
        if src[i] == "(":
            depth += 1
        elif src[i] == ")":
            depth -= 1
            if depth == 0:
                return src[start + 1 : i]
    return src[start + 1 :]


def test_no_second_ngram_builder():
    import re

    found = []
    for path, src in _sources():
        for name in ("hashed_word_shingles", "word_shingle_strings", "_word_ngrams"):
            if name in src:
                found.append((path.name, name))
        if "F.sequence(F.lit(0), F.size(" in src:
            found.append((path.name, "transform(sequence(0, size - k), element_at)"))
        if re.search(r"lambda (\w+): F\.lower\(\1\)", src):
            found.append((path.name, "per-token lower lambda"))
        # a window zip over array slices lives only in ngram_windows
        body = ""
        if path.name == "text_analysis.py":
            start = src.index("def ngram_windows(")
            body = src[start : src.index("\ndef ", start + 1)]
        for m in re.finditer(r"F\.(zip_with|arrays_zip)\(", src):
            args = _call_args(src, m.end() - 1)
            if "F.slice(" in args and args not in body:
                line = src.count("\n", 0, m.start()) + 1
                found.append((path.name, f"{m.group(1)} over slices at line {line}"))
    assert found == [], found


# ---------------------------------------------------------------------------
# text_analysis.identify_language: argmax of stopword hits, ties to the
# smallest code, 'und' without hits
# ---------------------------------------------------------------------------


def _py_language(text):
    """The rule in plain Python, for ASCII text."""
    if text is None:
        return "und"
    toks = text.lower().strip(" ").split()
    hits = {lang: sum(t in words for t in toks) for lang, words in T.STOPWORDS.items()}
    top = max(hits.values())
    return "und" if top == 0 else min(lang for lang, h in hits.items() if h == top)


LANG_ROWS = [
    (1, None, "und"),
    (2, "", "und"),
    (3, "   ", "und"),
    (4, "hello world again", "und"),
    (5, "el le", "es"),  # two-way tie es/fr
    (6, "THE 的", "en"),  # two-way tie en/zh, upper case folded
    (7, "in en der", "de"),  # three-way tie de/en/es
    (8, "the and el y der und", "de"),  # three-way tie at 2 hits
    (9, "la la the", "es"),  # es/fr tie at 2 beats en's 1
    (10, "the the la", "en"),
    (11, "\tder die das  und", "de"),
]


def test_identify_language_ties_null_and_empty(spark):
    df = spark.createDataFrame([r[:2] for r in LANG_ROWS], "id int, text string")
    got = dict(df.select("id", T.identify_language(F.col("text"))).collect())
    assert got == {i: _py_language(text) for i, text, _ in LANG_ROWS}
    assert got == {i: want for i, _, want in LANG_ROWS}
